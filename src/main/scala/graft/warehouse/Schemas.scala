package graft.warehouse

import org.apache.spark.sql.types._

/** Explicit schemas for the reference's warehouse tables (SURVEY §1.1),
  * as parquet-backed DataFrames.
  *
  * Reference DDL: `app/db/models.py:24-90`, `db_queries.sql:47-181`.
  * JSONB payloads are carried as raw JSON strings (`get_json_object` /
  * `from_json` on demand); at 100 TB the payload column is only decoded
  * in projections that ask for it, so the scan stays narrow.
  */
object Schemas {

  /** Series catalog — `meta_series` (`models.py:24-39`). */
  val metaSeries: StructType = StructType(Seq(
    StructField("series_id", StringType, nullable = false),
    StructField("dataset_id", StringType, nullable = false),
    StructField("description", StringType),
    StructField("unit", StringType),
    StructField("frequency", StringType),
    StructField("source", StringType),
    StructField("source_timezone", StringType),
    StructField("is_active", BooleanType, nullable = false),
    StructField("lookback_days", IntegerType)))

  /** Zero-loss landing zone — `raw_events` (`models.py:65-74`). */
  val rawEvents: StructType = StructType(Seq(
    StructField("event_id", StringType, nullable = false),
    StructField("dataset_id", StringType, nullable = false),
    StructField("series_hint", StringType),
    StructField("raw_payload", StringType, nullable = false),
    StructField("ingested_at", TimestampType, nullable = false)))

  /** Inferred field registry — `field_catalog` (`models.py:78-90`). */
  val fieldCatalog: StructType = StructType(Seq(
    StructField("dataset_id", StringType, nullable = false),
    StructField("field_name", StringType, nullable = false),
    StructField("inferred_type", StringType),
    StructField("nullable", BooleanType),
    StructField("example_value", StringType)))

  /** GIE dimension — `meta.assets` (`db_queries.sql:148-156`). */
  val assets: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("asset_name", StringType, nullable = false),
    StructField("country", StringType),
    StructField("asset_type", StringType),
    StructField("level", StringType),
    StructField("quality", StringType)))

  /** GIE daily fact — `energy.daily` (`db_queries.sql:175-181`). */
  val daily: StructType = StructType(Seq(
    StructField("value_date", DateType, nullable = false),
    StructField("series_id", LongType, nullable = false),
    StructField("value", DoubleType)))
}
