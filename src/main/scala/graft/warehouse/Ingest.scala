package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.JsonIngest

/** The flagship write pipeline (SURVEY §3.2, `POST /v2/ingest/gas`) as a
  * single DataFrame DAG — the reference's per-series Python loops and
  * full-history rescans (`run_all.py:74-120`) become five set-oriented
  * stages over one cached wide batch:
  *
  *   wide batch → (1) land raw zero-loss → (2) incremental field
  *   discovery → (3) series auto-register (anti-join, insert-if-absent)
  *   → (4) unpivot + safe-cast + slug → (5) last-write-wins upsert.
  *
  * Everything is keyed work: raw append is a scan-side projection;
  * discovery is one aggregation on (dataset, field); registration and
  * upsert shuffle only on their catalog/PK keys. Re-running the same
  * batch is a no-op end to end (upsert idempotence), which is the
  * reference's crash-recovery contract.
  */
object Ingest {

  /** Warehouse table paths under one root. */
  case class Warehouse(root: String) {
    val rawEvents: String = s"$root/raw_events"
    val fieldCatalog: String = s"$root/field_catalog"
    val metaSeries: String = s"$root/meta_series"
    val observations: String = s"$root/data_observations"
  }

  /** Ingest one wide API batch (e.g. gas-quality rows: time column +
    * site column + N numeric metric columns).
    *
    * @param wide      the fetched batch (already parsed from JSON)
    * @param dataset   dataset id, e.g. "GAS_QUALITY"
    * @param timeCol   event-time column name
    * @param keyCols   identity columns (site, point, ...) that become
    *                  series-id parts
    */
  def ingestWide(spark: SparkSession, wh: Warehouse, wide: DataFrame,
                 dataset: String, timeCol: String, keyCols: Seq[String]): Unit = {
    // the full-row JSON payload is serialized ONCE into the cached
    // batch: raw landing, field discovery and the per-observation
    // payload all consume it, and each used to re-run the to_json per
    // pass over the cache (3 serializations of every batch per ingest).
    // Fail loudly on a column collision: withColumn would silently
    // REPLACE an incoming __raw_payload, dropping it from the payload
    // and from field discovery (silent data loss on an API that ever
    // grows such a field).
    require(!wide.columns.contains("__raw_payload"),
      "ingestWide: incoming batch already carries __raw_payload")
    val batch = wide.withColumn("__raw_payload",
      to_json(struct(wide.columns.map(col).toIndexedSeq: _*))).cache()
    try {
      // (1) zero-loss raw landing (W1)
      JsonIngest.landRaw(batch, dataset, keyCols.headOption, Some("__raw_payload"))
        .write.mode("append").parquet(wh.rawEvents)

      // (2) field discovery — on THIS batch only, merged incrementally
      // (the reference rescans all history per ingest, field_discovery.py:21)
      mergeFieldCatalog(spark, wh, batch, dataset, Some("__raw_payload"))

      // (3) series auto-register: distinct (keys × numeric metric) not yet
      // in the catalog (series_autoregister.py as one anti-join append).
      // raw_payload = the source wide row's JSON, attached to every
      // observation the row yields (transformer.py:36) — it rides the
      // unpivot as an id column, so /v2/data?include_raw=true can serve
      // each point's payload back (routes.py:57). NaN→null sanitization
      // comes free from to_json, same as landRaw.
      val withRaw = batch.withColumnRenamed("__raw_payload", "raw_payload")
      val unpivoted = Normalize.unpivotNumeric(withRaw,
        idCols = (timeCol +: keyCols) :+ "raw_payload")
      val series = unpivoted
        .select((keyCols.map(col) :+ col("metric")): _*).distinct()
        .withColumn("series_id",
          Normalize.makeSeriesId(lit(dataset), (keyCols.map(col) :+ col("metric")): _*))
        .select(col("series_id"), lit(dataset).as("dataset_id"),
          col("metric").as("description"), lit("UNKNOWN").as("unit"),
          lit("intraday").as("frequency"), lit(true).as("is_active"))
      Upsert.insertIfAbsent(spark, wh.metaSeries, series, Seq("series_id"))

      // (4)+(5) normalize to observations and upsert on the composite PK
      val obs = Normalize.toObservations(unpivoted, dataset, timeCol, keyCols)
        .withColumn("quality_flag", lit(null).cast("string"))
        .withColumn("ingestion_time", current_timestamp())
      Upsert.upsert(spark, wh.observations, obs,
        keys = Seq("series_id", "observation_time"), versionCol = "ingestion_time")
    } finally batch.unpersist()
  }

  /** Pivot the chunked-REST long rows (obs_time, site, metric, value)
    * to the wide API batch shape [[ingestWide]] takes — shared by the
    * HTTP edge, the scheduler stream and the CLI so the pivot
    * discipline cannot drift between entry points. max(), never
    * first(): the stub emits exactly one row per (ts, site, metric)
    * cell, but first() is arrival-ordered — a live feed returning
    * duplicates would make the batch nondeterministic. Explicit pivot
    * values keep the plan one-pass (no distinct pre-scan). */
  def gasWide(long: DataFrame): DataFrame =
    long.groupBy(col("obs_time").as("ts"), col("site"))
      .pivot("metric", graft.sources.v2.ChunkedRestSource.Metrics)
      .agg(max(col("value")))
      .withColumn("ts", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))

  /** Serving read: the reference client's `get_history` (SURVEY §3.3). */
  def getHistory(spark: SparkSession, wh: Warehouse, seriesId: String,
                 start: String, end: String): DataFrame =
    graft.Tables.read(spark, wh.observations)
      .filter(col("series_id") === seriesId &&
        col("observation_time").between(lit(start).cast("timestamp"), lit(end).cast("timestamp")))
      .orderBy("observation_time")
      .select("observation_time", "value")

  /** Field-discovery increment for one batch, folded into the standing
    * catalog (shared by every dataset's ingest path — run_all.py:82).
    * The existence probe MUST be the self-healing [[Upsert.tableExists]]
    * (not a raw fs.exists): after a crash inside the catalog swap's
    * two-rename window the table dir is missing while its bytes sit in
    * `.backup`/`.staging` — a raw probe would read that as "no catalog"
    * and replace ALL history with this batch's increment. */
  private[warehouse] def mergeFieldCatalog(spark: SparkSession, wh: Warehouse,
                                           batch: DataFrame, dataset: String,
                                           payloadCol: Option[String] = None): Unit = {
    val increment = FieldDiscovery.discover(
      JsonIngest.landRaw(batch, dataset, None, payloadCol)
        .select("dataset_id", "raw_payload"))
    val merged =
      if (Upsert.tableExists(spark, wh.fieldCatalog))
        FieldDiscovery.merge(graft.Tables.read(spark, wh.fieldCatalog), increment)
      else increment
    writeSwap(spark, wh.fieldCatalog, merged)
  }

  private def writeSwap(spark: SparkSession, path: String, df: DataFrame): Unit =
    Upsert.overwriteInPlace(spark, path, df) // backup-first, rename-checked swap
}
