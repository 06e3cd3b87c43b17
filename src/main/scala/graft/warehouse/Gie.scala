package graft.warehouse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.OptionalFilters

/** The reference's GIE ingestion + read path (`app/ingestion/gie/…`,
  * `app/api/v2/gie.py`) as set-oriented Spark over the warehouse star:
  *
  *   - `meta.assets` / `meta.series` get-or-create (`series_builder.py:
  *     5-61`, one row-at-a-time SELECT-then-INSERT per record in the
  *     reference) becomes ONE distinct + anti-join append per table
  *     ([[Upsert.insertIfAbsent]]). Surrogate ids are deterministic
  *     xxhash64 of the natural key instead of a DB sequence — the same
  *     single-source-of-truth move as `make_series_id`: idempotent
  *     across re-ingests, no driver-side id minting, collision-safe at
  *     catalog cardinalities (dimension tables, not facts).
  *   - the transformer's per-record Python loop (`transformer.py:5-63`:
  *     excluded keys, one-level nested-dict flattening to `key_subkey`,
  *     NULL-like → null-but-kept, unparseable → skipped) is a single
  *     schema-driven unpivot: the record schema is metadata, so the
  *     variable set compiles into one codegen'd array-explode — one
  *     pass over the data at any corpus size.
  *   - delete-then-reload (`service.py:40-48`: DELETE energy.daily
  *     USING meta.series WHERE s.source = :source, then insert) is
  *     [[Upsert.deleteRefresh]] — a broadcast anti-join against the
  *     source's series-id slice plus a backup-first atomic swap.
  *   - `GET /v2/gie/data` (`gie.py:22-58`) is the 3-way star join with
  *     the F2 dynamic-WHERE stack built only from defined params
  *     ([[OptionalFilters]], so every conjunct stays sargable), dims
  *     broadcast, `ORDER BY value_date DESC LIMIT ≤5000` planned as
  *     TakeOrderedAndProject.
  *
  * The fetch (`client.py:29-47`) is deterministic-stub by default; a
  * live URL routes through [[graft.sources.HttpTransport]] under the
  * reference's exact retry policy (total=5, backoff ×2, on 429/5xx —
  * `client.py:16-21`).
  *
  * Crash consistency (the [[graft.Stage]] contract applied to the GIE
  * star): the delete-then-reload publishes through `deleteRefresh`'s
  * backup-first atomic swap — the merged fact lands in a `.staging`
  * sibling (complete when Spark's `_SUCCESS` commit marker exists,
  * Stage's marker rule), the old table moves to `.backup`, one rename
  * publishes. A crash inside the two-rename window leaves the table's
  * bytes in exactly one of those siblings, and [[Upsert.recoverSwap]]
  * (run by every warehouse entry point, including the serving edge's
  * existence probe) rolls forward to a committed staging or back to
  * the backup before anything reads — so a crashed GIE reload costs at
  * most the interrupted batch, never `energy.daily`. The dimension
  * appends (`insertIfAbsent`) are plain parquet appends of NEW keys
  * only: a replay re-derives the same deterministic xxhash64 ids and
  * anti-joins them away, so a crashed append is healed by the next
  * ingest rather than duplicated. WarehouseSpec drives all three crash
  * states (stale staging / committed staging + missing table /
  * uncommitted staging + backup).
  */
object Gie {

  val DatasetAgsi = "AGSI"
  val DatasetAlsi = "ALSI"
  val SourceAgsi = "GIE_AGSI"
  val SourceAlsi = "GIE_ALSI"

  /** `gie/constants.py:9-17`. */
  val ExcludedKeys: Set[String] =
    Set("name", "code", "url", "updatedAt", "gasDayStart", "gasDayEnd", "info")

  def assetsPath(wh: Ingest.Warehouse): String = s"${wh.root}/gie_assets"
  def seriesPath(wh: Ingest.Warehouse): String = s"${wh.root}/gie_series"
  def dailyPath(wh: Ingest.Warehouse): String = s"${wh.root}/gie_daily"

  // ------------------------------------------------------------------ fetch

  /** `client.py:29-47`: AGSI/ALSI fetch with the session retry policy.
    * No url → the deterministic stub (same contract as the chunked REST
    * source's stub mode); url given → live GET with country as a query
    * param, retried exactly like the reference's requests.Retry. */
  def fetch(dataset: String, country: Option[String],
            url: Option[String] = None,
            retry: graft.sources.HttpRetry.Policy =
              graft.sources.HttpRetry.Policy(),
            sleep: Long => Unit = Thread.sleep): String = url match {
    case None => stubPayload(dataset, country)
    case Some(base) =>
      val q = s"dataset=$dataset" +
        country.map(c => s"&country=${java.net.URLEncoder.encode(c, "UTF-8")}")
          .getOrElse("")
      val full = if (base.contains("?")) s"$base&$q" else s"$base?$q"
      val retryOn = retry.retryOn + graft.sources.HttpTransport.IoFailureStatus
      graft.sources.HttpRetry.withRetries(retry.copy(retryOn = retryOn), sleep) {
        _ => graft.sources.HttpTransport.get(full)
      }
  }

  /** Deterministic AGSI/ALSI payload covering every transformer branch:
    * plain numerics, a NULL-like value (kept with value null), an
    * unparseable value (skipped), excluded keys, and — ALSI — a nested
    * dict flattened to `key_subkey` with its own NULL-like and
    * unparseable members. Values are pure functions of (country, day). */
  def stubPayload(dataset: String, country: Option[String]): String = {
    require(dataset == DatasetAgsi || dataset == DatasetAlsi,
      s"Invalid GIE dataset: $dataset") // client.py:34-35
    val countries =
      if (dataset == DatasetAgsi) Seq("Austria" -> "AT", "Belgium" -> "BE", "Germany" -> "DE")
      else Seq("Belgium" -> "BE", "France" -> "FR", "Spain" -> "ES")
    val days = Seq("2024-02-01", "2024-02-02", "2024-02-03")
    val entries = for {
      ((name, code), ci) <- countries.zipWithIndex
      if country.forall(_ == name)
      (day, di) <- days.zipWithIndex
    } yield {
      val status = if (di == 2) "E" else "C"
      val common =
        s""""name":"$name","code":"$code","url":"https://example.invalid/$code",""" +
          s""""updatedAt":"${day}T06:00:00Z","gasDayStart":"$day","status":"$status""""
      if (dataset == DatasetAgsi) {
        val trend = if (ci == 0 && di == 0) "" else s"$di.1"
        val consumption = if (ci == 1 && di == 1) "n/a" else s"${20 + ci + di}.0"
        s"""{$common,"gasInStorage":"${100 + ci * 10 + di}.5",""" +
          s""""injection":"${10 + ci + di}.25","withdrawal":"${5 + ci * 2 + di}.75",""" +
          s""""full":"${40 + ci + di}.0","trend":"$trend","consumption":"$consumption",""" +
          s""""info":"excluded-by-contract"}"""
      } else {
        val exit = if (ci == 0 && di == 1) "" else s"${2 + di}.6"
        s"""{$common,"lngInventory":"${50 + ci * 5 + di}.5","sendOut":"${7 + ci + di}.2",""" +
          s""""transmission":{"entry":"${3 + di}.4","exit":"$exit","note":"peak"}}"""
      }
    }
    s"""{"data":[${entries.mkString(",")}]}"""
  }

  // -------------------------------------------------------------- transform

  /** `transformer.py:5-63` as one schema-driven unpivot: parse the
    * payload, explode `data`, and compile the record's field list
    * (metadata, not data) into an array of (variable, value, keep)
    * structs — scalars directly, one-level structs as `key_subkey`.
    * NULL-like (`""`/`" "`/null) keeps the row with value null;
    * any other unparseable value drops it (the try/except-continue). */
  def transform(s: SparkSession, rawJson: String): DataFrame = {
    import s.implicits._
    val parsed = s.read.json(Seq(rawJson).toDS)
    require(parsed.columns.contains("data"), "GIE payload must carry data[]")
    val entries = parsed.select(explode(col("data")).as("e"))
      .filter(col("e.gasDayStart").isNotNull)
    val entrySchema = entries.schema("e").dataType.asInstanceOf[StructType]

    def leaf(vcol: Column, variable: String): Column = {
      val vstr = vcol.cast("string")
      val nullLike = vstr.isNull || trim(vstr) === ""
      val num = vstr.try_cast("double")
      struct(
        lit(variable).as("variable"),
        when(nullLike, lit(null).cast("double")).otherwise(num).as("value"),
        (nullLike || num.isNotNull).as("keep"))
    }

    val leaves: Seq[Column] = entrySchema.fields.toSeq
      .filterNot(f => ExcludedKeys.contains(f.name) || f.name == "status")
      .flatMap { f =>
        f.dataType match {
          case st: StructType =>
            st.fields.toSeq.map(sub =>
              leaf(col(s"e.${f.name}.${sub.name}"), s"${f.name}_${sub.name}"))
          case _ => Seq(leaf(col(s"e.${f.name}"), f.name))
        }
      }
    entries
      .select(
        col("e.name").as("country"),
        try_to_date(col("e.gasDayStart"), "yyyy-MM-dd").as("date"),
        col("e.status").as("quality"),
        explode(array(leaves: _*)).as("v"))
      .filter(col("date").isNotNull && col("v.keep"))
      .select(col("country"), col("date"),
        col("v.variable").as("variable"), col("v.value").as("value"),
        col("quality"))
  }

  // ----------------------------------------------------------------- ingest

  private def assetIdOf(name: Column): Column = xxhash64(name)
  private def seriesKeyOf(assetId: Column, variable: Column, source: String): Column =
    concat_ws("_", assetId, variable, lit(source))

  /** `service.py:12-76`: land raw → transform → get-or-create dims →
    * delete-then-reload the daily fact for this source. Synchronous,
    * like the reference route. */
  def ingest(s: SparkSession, wh: Ingest.Warehouse, dataset: String,
             source: String, country: Option[String],
             url: Option[String] = None): Unit = {
    import s.implicits._
    val raw = fetch(dataset, country, url)

    // (1) zero-loss raw landing — the reference's raw_events insert
    // (source rides in series_hint; one warehouse-wide raw schema)
    Seq((java.util.UUID.randomUUID.toString, dataset, source, raw))
      .toDF("event_id", "dataset_id", "series_hint", "raw_payload")
      .withColumn("ingested_at", current_timestamp())
      .write.mode("append").parquet(wh.rawEvents)

    val rows = transform(s, raw).localCheckpoint() // read by 3 consumers

    // (2) get-or-create assets: ONE distinct + anti-join, not a per-row
    // SELECT-then-INSERT. quality is the deterministic min over the
    // batch (the reference keeps whichever record inserted first).
    val assets = rows.groupBy(col("country").as("asset_name"))
      .agg(min(col("quality")).as("quality"))
      .select(assetIdOf(col("asset_name")).as("asset_id"), col("asset_name"),
        col("asset_name").as("country"), lit("Storage").as("asset_type"),
        lit("Country").as("level"), col("quality"))
    Upsert.insertIfAbsent(s, assetsPath(wh), assets, Seq("asset_name"))

    // (3) get-or-create series keyed on the unique concat
    val series = rows.select(col("country"), col("variable")).distinct()
      .withColumn("asset_id", assetIdOf(col("country")))
      .withColumn("series_unique_concat",
        seriesKeyOf(col("asset_id"), col("variable"), source))
      .select(xxhash64(col("series_unique_concat")).as("series_id"),
        col("asset_id"), col("variable"), lit(source).as("source"),
        lit(null).cast("string").as("unit"), col("series_unique_concat"))
    Upsert.insertIfAbsent(s, seriesPath(wh), series, Seq("series_unique_concat"))

    // (4) delete-then-reload: drop EVERY daily row of this source (the
    // reference's DELETE ... USING meta.series WHERE s.source = :source),
    // then load the fresh batch — the whole source slice is replaced.
    val daily = rows.select(
      col("date").as("value_date"),
      xxhash64(seriesKeyOf(assetIdOf(col("country")), col("variable"), source))
        .as("series_id"),
      assetIdOf(col("country")).as("asset_id"),
      col("value"))
    val delKeys = graft.Tables.read(s, seriesPath(wh))
      .filter(col("source") === source).select("series_id")
    Upsert.deleteRefresh(s, dailyPath(wh), delKeys, Seq("series_id"), daily)
  }

  // ------------------------------------------------------------------- read

  /** `gie.py:22-58`: the star-join read with the dynamic WHERE stack,
    * over the caller's `gie_daily`, `gie_series` and `gie_assets` frames.
    * Dims broadcast; `ORDER BY value_date DESC LIMIT n` is a top-k
    * (TakeOrderedAndProject), never a global sort. Tie-breaks beyond
    * the reference's bare date ordering keep pages deterministic. */
  def dataQuery(daily: DataFrame, series: DataFrame, assets: DataFrame,
                source: String, country: Option[String], variable: Option[String],
                startDate: Option[String], endDate: Option[String],
                limit: Int): DataFrame = {
    val joined = daily
      .join(broadcast(series.select("series_id", "variable", "source")), Seq("series_id"))
      .join(broadcast(assets.select("asset_id", "asset_name")), Seq("asset_id"))
    OptionalFilters(joined,
      Some(col("source") === source),
      OptionalFilters.eqOpt(col("asset_name"), country),
      OptionalFilters.eqOpt(col("variable"), variable),
      OptionalFilters.geOpt(col("value_date"), startDate.map(lit(_).try_cast("date"))),
      OptionalFilters.leOpt(col("value_date"), endDate.map(lit(_).try_cast("date"))))
      .orderBy(col("value_date").desc, col("variable"), col("asset_name"))
      .limit(limit)
      .select(col("value_date").as("date"), col("value"),
        col("variable"), col("asset_name").as("country"))
  }
}
