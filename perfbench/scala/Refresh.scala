package perfbench

import java.time.LocalDate

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.warehouse.Ingest

/** The scheduler's refresh path, which builds the served warehouse: pull a
  * day window from the gas fixture through `ChunkedRestSource`, pivot it
  * with `Ingest.gasWide` and upsert it with `Ingest.ingestWide`. */
object Refresh {
  val Dataset = "GAS_QUALITY"
  /** Days a refresh tick re-pulls, ending on the publication day. */
  val Lookback = 4

  /** Ingest days [from, to] (inclusive) as published by `api.asOfDay`.
    * The wide batch carries the numeric site id as a string field
    * (`siteId`), which lands in the raw payloads the serving edge's
    * JSON-path filter reads; being a string it is not unpivoted into a
    * metric. */
  def ingest(spark: SparkSession, wh: Ingest.Warehouse, api: GasApi,
             from: Long, to: Long): Unit = {
    val long = spark.read.format("graft.sources.v2.ChunkedRestSource")
      .option("from", LocalDate.ofEpochDay(from).toString)
      .option("to", LocalDate.ofEpochDay(to).toString)
      .option("chunkDays", "1")
      .option("url", api.url)
      .option("throttleMs", "0")
      .option("retryBaseMs", "1")
      .option("retryRateLimitExtraMs", "2")
      .load()
    val wide = Ingest.gasWide(long)
      .withColumn("siteId", regexp_extract(col("site"), "(\\d+)$", 1))
    Ingest.ingestWide(spark, wh, wide, Dataset, "ts", Seq("site"))
  }

  /** [[ingest]] as one operation record: wall time, the fixture's request,
    * byte and busy-time deltas, and (traced) an `ingest` span over a
    * `warehouse.ingest_wide` span that the fixture's chunk spans attach to. */
  def ingestOp(spark: SparkSession, wh: Ingest.Warehouse, api: GasApi, from: Long, to: Long,
               opId: Long, step: String, traced: Boolean): Map[String, Any] = {
    val (r0, b0, n0) = (api.requests.get, api.bytes.get, api.busyNanos.get)
    val start = Clock.nowMs
    val err =
      try {
        Trace.span("ingest", 0L, opId) { sid =>
          Trace.span("warehouse.ingest_wide", sid, opId) { wid =>
            Trace.currentOp = opId
            Trace.currentParent = wid
            ingest(spark, wh, api, from, to)
          }
        }
        None
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    Map("id" -> opId, "kind" -> "ingest", "step" -> step, "phase" -> "setup",
      "start" -> start, "end" -> Clock.nowMs, "ok" -> err.isEmpty, "err" -> err.getOrElse(""),
      "traced" -> traced, "chunks" -> (to - from + 1), "requests" -> (api.requests.get - r0),
      "fetched_bytes" -> (api.bytes.get - b0), "upstream_ms" -> (api.busyNanos.get - n0) / 1e6)
  }

  /** On-disk bytes and data-file count under a directory tree. */
  def du(path: String): (Long, Int) = {
    val files = Option(new java.io.File(path)).filter(_.exists).toSeq.flatMap { root =>
      val it = java.nio.file.Files.walk(root.toPath)
      try {
        import scala.jdk.CollectionConverters._
        it.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).toList
      } finally it.close()
    }
    val data = files.filter { p =>
      val n = p.getFileName.toString
      !n.startsWith(".") && !n.startsWith("_")
    }
    (files.map(java.nio.file.Files.size).sum, data.size)
  }

  /** Checks the warehouse against the model: `data_observations` holds
    * exactly one row per expected point with the expected value, and
    * `meta_series` exactly the model's series ids. `lastFetch(day)` is the
    * day of the last pull that covered `day`. Returns the error, if any,
    * plus (rows, checksum) as read. */
  def verify(spark: SparkSession, wh: Ingest.Warehouse, model: GasModel,
             days: Seq[Long], lastFetch: Long => Long): (Option[String], Long, Long) = {
    val ids = model.siteNames.zipWithIndex.flatMap { case (s, i) =>
      model.metrics.zipWithIndex.map { case (m, j) => model.seriesId(s, m) -> (i + 1, j + 1) }
    }.toMap
    val rows = spark.read.parquet(wh.observations)
      .select(col("series_id"), unix_seconds(col("observation_time")), col("value"))
      .collect()
    def sum(h: Iterator[(String, Long, Double)]): Long =
      h.map { case (s, t, v) =>
        (s.hashCode.toLong * 0x9E3779B97F4A7C15L) ^ (t * 0xC2B2AE3D27D4EB4FL) ^
          java.lang.Double.doubleToLongBits(v)
      }.foldLeft(0L)(_ + _)
    val got = rows.iterator.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val gotSum = sum(got)
    val expected = for {
      (sid, (s, m)) <- ids.iterator; d <- days.iterator; t <- model.times(d)
    } yield (sid, t, model.valueAsOf(s, m, t, lastFetch(d)))
    val expectedRows = ids.size.toLong * days.size * model.perDay
    val expSum = sum(expected)
    val meta = spark.read.parquet(wh.metaSeries).select("series_id").collect()
      .map(_.getString(0)).toSeq
    val err =
      if (rows.length != expectedRows)
        Some(s"data_observations has ${rows.length} rows, expected $expectedRows")
      else if (gotSum != expSum) {
        val want = (for {
          (sid, (s, m)) <- ids.iterator; d <- days.iterator; t <- model.times(d)
        } yield (sid, t) -> model.valueAsOf(s, m, t, lastFetch(d))).toMap
        val bad = rows.count(r => !want.get((r.getString(0), r.getLong(1))).contains(r.getDouble(2)))
        Some(s"data_observations checksum mismatch: $bad of ${rows.length} points differ")
      } else if (meta.size != ids.size || meta.toSet != ids.keySet)
        Some(s"meta_series holds ${meta.size} ids, expected ${ids.size}")
      else None
    (err, rows.length.toLong, gotSum)
  }
}
