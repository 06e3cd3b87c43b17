package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}

import graft.warehouse.Upsert

/** The table resolver ([[Tables.resolve]]): a table's schema is inferred
  * once per file listing and per session, and every read is a fresh
  * frame over it. */
class TablesSpec extends SparkSpec {

  /** Spark jobs `body` starts, counted exactly (listener bus drained). */
  private def jobsOf[A](body: => A): (A, Int) = {
    val started = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    try {
      val a = body
      ListenerBusDrain(spark.sparkContext)
      (a, started.get())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  /** A fresh SF-shaped dir holding a copy of the sf0.001 region table. */
  private def regionCopy(): String = {
    val dir = Files.createTempDirectory("graft-tables").toString
    spark.read.parquet(s"$sf/region.parquet").write.parquet(s"$dir/region.parquet")
    dir
  }

  test("resolver: a repeated Tables.load of one table runs no Spark job") {
    val dir = regionCopy()
    val (first, inferJobs) = jobsOf(Tables.load(spark, dir, "region"))
    assert(inferJobs === 1, "the first load infers the schema")
    val (again, repeatJobs) = jobsOf(Tables.load(spark, dir, "region"))
    assert(repeatJobs === 0, s"repeat load ran $repeatJobs jobs")
    // same schema, nullability included, and the same plan as an
    // inferring read; a fresh frame (new expression ids) per call
    val inferred = spark.read.parquet(s"$dir/region.parquet")
    assert(again.schema === inferred.schema)
    assert(again.queryExecution.optimizedPlan.output.map(_.exprId) !=
      first.queryExecution.optimizedPlan.output.map(_.exprId))
    assert(again.join(first, again("r_regionkey") === first("r_regionkey")).count() === 5L)
    assert(again.collect().toSet === inferred.collect().toSet)
  }

  test("resolver: the cached schema is the inferred one, nullability and partition order included") {
    val paths = Tables.all.map(t => s"$sf/$t.parquet")
    val parted = Files.createTempDirectory("graft-tables-parted").toString + "/t"
    spark.range(6).selectExpr("id", "id % 2 AS k", "cast(id AS string) AS v")
      .write.partitionBy("k").parquet(parted)
    (paths :+ parted).foreach { p =>
      assert(Tables.read(spark, p).schema === spark.read.parquet(p).schema, p)
    }
    assert(Tables.read(spark, parted).columns.toSeq === Seq("id", "v", "k"))
  }

  test("resolver: a table rewritten under the same path is seen on the next read") {
    // an in-place overwrite that adds a column
    val dir = regionCopy()
    val path = s"$dir/region.parquet"
    val before = Tables.read(spark, path)
    assert(!before.columns.contains("r_extra"))
    Upsert.overwriteInPlace(spark, path,
      before.filter(col("r_regionkey") < 3).withColumn("r_extra", lit(7)).localCheckpoint())
    val after = Tables.read(spark, path)
    assert(after.columns.last === "r_extra")
    assert(after.count() === 3L)
    assert(after.agg(org.apache.spark.sql.functions.sum("r_extra")).head.getLong(0) === 21L)

    // a staged artifact rebuilt under the same root
    val root = Files.createTempDirectory("graft-tables-stage").toString + "/stage"
    Stage.ensure(root)(tmp => spark.range(4).toDF("id").write.parquet(tmp))
    assert(Tables.read(spark, root).columns.toSeq === Seq("id"))
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(root), true)
    Stage.ensure(root)(tmp =>
      spark.range(6).toDF("id").withColumn("sq", col("id") * col("id")).write.parquet(tmp))
    val rebuilt = Tables.read(spark, root)
    assert(rebuilt.columns.toSeq === Seq("id", "sq"))
    assert(rebuilt.agg(org.apache.spark.sql.functions.sum("sq")).head.getLong(0) === 55L)
  }

  test("resolver: a second session infers its own schema") {
    val dir = regionCopy()
    val (_, firstJobs) = jobsOf(Tables.load(spark, dir, "region"))
    assert(firstJobs === 1)
    val other = spark.newSession()
    val (_, otherJobs) = jobsOf(Tables.load(other, dir, "region"))
    assert(otherJobs === 1, "the second session reused the first one's schema")
    assert(Tables.resolve(other, s"$dir/region.parquet") ne
      Tables.resolve(spark, s"$dir/region.parquet"))

    // the schema depends on the session: an events table stored as
    // TIMESTAMP(NANOS) reads under nanosAsLong and fails loudly without it
    val nanos = Files.createTempDirectory("graft-tables-nanos").toString
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new Path(s"$nanos/events.parquet/part-0.parquet")).withType(schema).build()
    try w.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("event_id", 1L).append("ts", 1704067200123456789L))
    finally w.close()
    val ts = Tables.events(spark, nanos).select("ts").head.getTimestamp(0)
    assert(ts === java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00.123456Z")))
    val plain: SparkSession = spark.newSession()
    plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalStateException](Tables.events(plain, nanos))
    assert(e.getMessage.contains("TIMESTAMP(NANOS)"), e.getMessage)
  }
}
