package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Semantics of the custom codegen NFC expression: real canonical
  * composition (not a pass-through), interpreted/codegen agreement, and
  * SQL callability through the registry. All literals use explicit \\u
  * escapes — source-encoding normalization must not be able to collapse
  * the decomposed/composed distinction the tests exist to pin.
  */
class TextExpressionSpec extends SparkSpec {

  private val Decomposed = "café"   // e + combining acute
  private val Composed = "café"      // precomposed é

  test("nfc_normalize composes decomposed sequences to canonical form") {
    import ss.implicits._
    Tables.registerFunctions(spark)
    val rows = Seq(Decomposed, "plain ascii", "Åpple")
      .toDF("s")
      .select(col("s"), TextFunctions.nfcNormalize(col("s")).as("n"))
      .as[(String, String)].collect().toMap
    assert(rows(Decomposed) == Composed)
    assert(rows("plain ascii") == "plain ascii")
    assert(rows("Åpple") == "Åpple") // A + combining ring → Å
  }

  test("codegen output is identical to interpreted eval") {
    import ss.implicits._
    Tables.registerFunctions(spark)
    val df = Tables.documents(spark, sf)
      .withColumn("dirty", regexp_replace(col("text"), "e", "é"))
    val viaCodegen = df.select(TextFunctions.nfcNormalize(col("dirty")))
      .as[String].collect().toSeq
    val interpreted = df.select(col("dirty")).as[String].collect()
      .map(s => java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
      .toSeq
    assert(viaCodegen == interpreted)
  }

  test("minhash_sig: fused native signature is bit-identical to the HOF chain") {
    import ss.implicits._
    // the whole documents table — every real text plus constructed
    // edges: empty, whitespace-only, 1/2/3 tokens, duplicate shingles
    // (distinct-free minima), unicode tokens, long run
    val edges = Seq("", "   ", "one", "one two", "one two three",
      "a b c a b c a b c", "é ü 漢 字 test",
      ("tok " * 500).trim)
      .toDF("text").withColumn("doc_id", lit(-1L))
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .unionByName(edges.select(col("doc_id"), col("text")))
    val both = docs.select(
      graft.queries.Dedup.minhashSigCol(col("text")).as("native"),
      graft.queries.Dedup.minhashSigHofCol(col("text")).as("hof"))
    assert(both.count() > 8)
    assert(both.filter(
      !(col("native") <=> col("hof"))).count() === 0,
      "native minhash_sig diverged from the declarative HOF twin")
    // NULL exactly when no complete 3-shingle exists
    val nulls = docs.select(col("text"),
      graft.queries.Dedup.minhashSigCol(col("text")).as("sig"))
      .filter(col("sig").isNull).select("text").as[String].collect()
    assert(nulls.forall(t => t.trim.isEmpty || t.trim.split("\\s+").length < 3))
  }

  test("minhash_sig is SQL-callable and null for short inputs") {
    val out = spark.sql(
      "SELECT minhash_sig(split('x y z', ' ')) AS s, minhash_sig(split('x y', ' ')) AS n")
      .head()
    assert(out.getString(0).split(",").length === 16)
    assert(out.isNullAt(1))
  }

  test("nfc_normalize is SQL-callable after registration") {
    Tables.registerFunctions(spark)
    val out = spark.sql(s"SELECT nfc_normalize('é') AS n")
      .head().getString(0)
    assert(out == "é")
  }
}
