package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.queries.Vectors

class VectorExpressionSpec extends SparkSpec {

  private def vecs = Tables.embeddings(spark, sf)
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))

  test("codegen vec_dot is bit-identical to the interpreted HOF fold") {
    val a = vecs.toDF("ia", "va")
    val b = vecs.toDF("ib", "vb")
    val pairs = a.crossJoin(b).limit(2000)
      .select(
        Vectors.dot(col("va"), col("vb")).as("fast"),
        Vectors.dotHof(col("va"), col("vb")).as("ref"))
    assert(pairs.filter(col("fast") =!= col("ref")).isEmpty)
  }

  test("vec_dot participates in whole-stage codegen") {
    val plan = vecs.select(Vectors.dot(col("v"), col("v")).as("d"))
      .queryExecution.executedPlan.toString
    // the leading `*(n)` marks an operator inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project [vec_dot"), s"no codegen span:\n$plan")
  }

  test("vec_dot is SQL-callable after registration") {
    // extensions hook must construct/apply cleanly
    new graft.functions.GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
    Tables.registerFunctions(spark)
    vecs.createOrReplaceTempView("emb_v")
    val r = spark.sql(
      "SELECT vec_dot(v, v) AS d FROM emb_v ORDER BY vec_id LIMIT 1").head
    assert(r.getDouble(0) > 0)
  }

  test("vecCosine of a vector with itself is 1") {
    val r = vecs.select(VectorFunctions.vecCosine(col("v"), col("v")).as("c"))
      .agg(min("c"), max("c")).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("fused vec_cosine is bit-identical to the composed dot/norm form") {
    // the contract every oracle twin leans on: the single-traversal
    // expression must produce the EXACT bits of
    // vec_dot(a,b) / (sqrt(vec_dot(a,a)) * sqrt(vec_dot(b,b)))
    val a = vecs.toDF("ia", "va")
    val b = vecs.toDF("ib", "vb")
    val composed = VectorFunctions.vecDot(col("va"), col("vb")) /
      (VectorFunctions.vecNorm(col("va")) * VectorFunctions.vecNorm(col("vb")))
    val pairs = a.crossJoin(b).limit(2000)
      .select(
        VectorFunctions.vecCosine(col("va"), col("vb")).as("fused"),
        composed.as("ref"))
    assert(pairs.filter(col("fused") =!= col("ref")).isEmpty)
    // length mismatch follows the composed form too (cross term stops
    // at min length, each norm runs over its own full array)
    val mixed = a.crossJoin(b).limit(500)
      .select(col("va"), slice(col("vb"), 1, 17).as("vs"))
    val composedMixed = VectorFunctions.vecDot(col("va"), col("vs")) /
      (VectorFunctions.vecNorm(col("va")) * VectorFunctions.vecNorm(col("vs")))
    assert(mixed
      .select(VectorFunctions.vecCosine(col("va"), col("vs")).as("fused"),
        composedMixed.as("ref"))
      .filter(col("fused") =!= col("ref")).isEmpty)
  }

  test("vec_cosine participates in whole-stage codegen and is SQL-callable") {
    val plan = vecs.select(VectorFunctions.vecCosine(col("v"), col("v")).as("c"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_cosine"), s"no codegen span:\n$plan")
    vecs.createOrReplaceTempView("vx_cos")
    val n = spark.sql(
      "SELECT vec_cosine(v, v) AS c FROM vx_cos WHERE vec_cosine(v, v) > 0.5")
      .count()
    assert(n > 0)
  }

  test("gram_tri equals the declarative explode+sum digest, incl. negative products") {
    import ss.implicits._
    // negatives and half-way points exercise the HALF_UP emulation
    val rows = Seq(
      Array(0.5, -1.25, 2.0),
      Array(-0.5, 0.0000005, -2.0),
      Array(1.5, 2.5, -3.5))
    val df = rows.map(Tuple1(_)).toDF("v")
    val got = df.agg(graft.functions.GramTriFunctions
        .gramTri(col("v"), 1000000.0).as("g"))
      .head().getSeq[Long](0)
    val expected = {
      val acc = Array.ofDim[Long](6)
      rows.foreach { v =>
        var p = 0
        for (i <- 0 until 3; j <- i until 3) {
          acc(p) += java.math.BigDecimal.valueOf(v(i) * v(j) * 1000000.0)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
          p += 1
        }
      }
      acc.toSeq
    }
    assert(got === expected)
    // the same digest through the declarative round()+explode plan
    val declarative = df.select(posexplode(flatten(transform(
        sequence(lit(1), lit(3)), i => transform(sequence(i, lit(3)), j =>
          round(element_at(col("v"), i) * element_at(col("v"), j)
            * lit(1000000.0)).cast("long"))))))
      .toDF("pos", "prod").groupBy("pos").agg(sum("prod").as("s"))
      .orderBy("pos").collect().map(_.getLong(1)).toSeq
    assert(got === declarative)
    // empty input -> null digest, and partial merges are size-checked
    assert(df.filter(lit(false))
      .agg(graft.functions.GramTriFunctions.gramTri(col("v"), 1000000.0))
      .head().isNullAt(0))
  }

  test("vec_matdot is bit-identical to the composed array-of-vec_dot form") {
    // the JL sign-matrix shape: ±1 rows over the fixture's 64 dims,
    // plus a short row and a long row to exercise the min-length rule
    val rows: Seq[Seq[Double]] = (0 until 8).map { j =>
      (0 until 64).map(i => if (((i + j) % 3) == 0) -1.0 else 1.0)
    } :+ Seq(0.5, -2.0) :+ (0 until 80).map(_ * 0.25)
    val m = typedLit(rows)
    val got = vecs.select(col("vec_id"),
        VectorFunctions.vecMatDot(col("v"), m).as("p"),
        array(rows.map(r => Vectors.dot(col("v"), typedLit(r))): _*).as("ref"))
    assert(got.filter(col("p") =!= col("ref")).isEmpty)
    // participates in whole-stage codegen like vec_dot
    val plan = vecs.select(VectorFunctions.vecMatDot(col("v"), m).as("p"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [vec_matdot"), s"no codegen span:\n$plan")
    // SQL-callable after registration
    val viaSql = spark.sql(
      "SELECT vec_matdot(array(1.0d, 2.0d), array(array(3.0d, 4.0d))) AS p")
      .head.getSeq[Double](0)
    assert(viaSql == Seq(11.0))
  }

  test("roundHalfUp matches BigDecimal HALF_UP at ties and binade-boundary artifacts") {
    val cases = Seq(
      0.5, -0.5, 2.5, -2.5, 1.5, -1.5,
      Math.nextDown(0.5), Math.nextUp(0.5),
      -Math.nextDown(0.5), -Math.nextUp(0.5),
      Math.nextDown(2.5), Math.nextUp(2.5),
      0.49999999999999994, // +0.5 tie-rounds to 1.0: the bare-floor trap
      1.4999999999999998, 0.0, -0.0, 1e15 + 0.5, -(1e15 + 0.5),
      123456789.49999999, -123456789.49999999)
    cases.foreach { x =>
      val expected = java.math.BigDecimal.valueOf(x)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      assert(graft.functions.GramTriFunctions.roundHalfUp(x) === expected,
        s"roundHalfUp($x)")
    }
  }
}
