package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.warehouse.Upsert

/** Streaming ingestion semantics (SURVEY §2.9): the reference is
  * micro-batch by scheduler — hourly APScheduler runs with
  * `max_instances=1, coalesce=True` (`scheduler.py:10-18`), late and
  * duplicate data handled by idempotent upsert (`loader.py:20-30`).
  *
  * Structured-Streaming mapping:
  *  - scheduler tick        → `Trigger.AvailableNow` (drain what exists,
  *    stop; re-run per cron). `coalesce=True` comes free: a missed tick
  *    just means the next run drains a bigger backlog.
  *  - duplicate suppression → `withWatermark` +
  *    `dropDuplicatesWithinWatermark` keyed like the upsert PK — state
  *    stays bounded by the watermark horizon instead of growing forever.
  *  - idempotent sink       → `foreachBatch` + [[Upsert.upsert]]: each
  *    micro-batch merges last-write-wins on the key, so replays (which
  *    AvailableNow restarts can produce) cannot double-write.
  *
  * At scale the source is a stream of landed files (or Kafka); state and
  * sink merges shard on the upsert key, so 1000 executors each hold
  * 1/1000th of the watermark window — no single-node state bottleneck.
  *
  * Every drain the engine runs starts and stops here (only the
  * long-running [[Scheduler.gasIngestStream]] returns a live query):
  *  - [[drainToMemory]] runs a stream plan on a cloned session
  *    ([[withStreamSession]]) and returns its output. Each micro-batch
  *    is `localCheckpoint`ed where it ran, so the rows stay in the
  *    executors' block managers; only block ids reach the driver (a
  *    memory sink would collect every row into the driver's heap and
  *    ship it back to the executors on the read). Two settings are
  *    derived from the plan, never passed: a `transformWithState` node
  *    switches the clone to the RocksDB state store, the only store
  *    that operator supports; and one in processing-time mode (state
  *    TTL) runs on the default trigger, bounded by [[drainAvailable]],
  *    because under AvailableNow it schedules empty batches forever.
  *    The run-scoped checkpoint is deleted once the query has
  *    terminated: the result lives only in this run's blocks, so
  *    nothing could ever resume from it.
  *  - the foreachBatch drains ([[drainOnce]], [[drainDyadicTree]],
  *    [[drainCdc]], [[drainWithLateQuarantine]]) keep their checkpoint —
  *    their sinks are durable and a repeat run is the next tick — and
  *    share one start/await body that reports [[DrainStats]].
  */
object MicroBatch {

  /** File-source stream over a parquet directory of events. */
  /** `maxFilesPerTrigger` bounds each micro-batch to n source files —
    * the backpressure lever that keeps a week-long backlog from
    * becoming ONE unbounded micro-batch: under AvailableNow the drain
    * still consumes everything, but in bounded slices whose state and
    * shuffle fit executor memory regardless of backlog size. */
  def readEvents(spark: SparkSession, dir: String, schemaFrom: DataFrame,
                 maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // outside Tables.read: a streaming source, its schema given here
    val r = spark.readStream.schema(schemaFrom.schema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n)).parquet(dir)
  }

  /** Dedup + normalize transform on the stream: drop events that
    * duplicate an already-seen (user_id, event_type, ts) key within the
    * watermark horizon.
    */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type", "ts"))

  /** CONTENT near-dup dedup on the stream: drop documents whose minhash
    * signature duplicates an already-seen signature within the watermark
    * horizon — the incremental form of the batch minhash dedup a real
    * ingest pipeline runs per tick instead of re-deduping the corpus.
    * Expects a `sig` column computed SCAN-SIDE (a pure projection, e.g.
    * [[graft.queries.Dedup.minhashSigCol]]) and an event-time `ts`; the
    * state store then holds one entry per distinct signature inside the
    * horizon — bytes proportional to the dedup window, not the corpus. */
  def neardupWithinWatermark(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("sig"))

  /** What one drain did — the observability the engine's silent
    * watermark drops otherwise hide: `droppedByWatermark` sums the
    * state operators' per-batch `numRowsDroppedByWatermark`
    * (StreamingQueryProgress), i.e. rows the dedup operator REFUSED as
    * too late. The reference's lookback semantics (`models.py:36`) make
    * "what got dropped" operationally load-bearing: a nonzero count
    * here is data loss until a quarantine drain
    * ([[drainWithLateQuarantine]]) or a wider horizon picks it up. */
  case class DrainStats(batches: Int, droppedByWatermark: Long)

  /** State partitions of a drain's cloned session. A stream's state
    * partition count is captured from `spark.sql.shuffle.partitions` at
    * first start and recorded in the checkpoint, so it should match the
    * stream's keyed throughput, not the batch default: these drains
    * carry kilobytes of state per batch, and each state partition costs
    * per-batch store init + commit files (measured: the windowed drain
    * is ~2.2× slower at 32 state partitions than at 8 on identical
    * data). At production scale it goes UP with key cardinality. */
  private val StreamStatePartitions = 8

  /** Run `body` (a streaming drain) on a CLONED session —
    * `SparkSession.newSession()`: isolated SQLConf + temp catalog over
    * the same SparkContext — with [[StreamStatePartitions]] shuffle
    * partitions on the clone only. The clone makes the scoping airtight
    * even under concurrent query execution — nothing session-global is
    * ever mutated, so a parallel batch plan can't observe the drain's
    * settings or a stale restore. Builder-set session options (UTC,
    * nanosAsLong) carry into the clone via initialSessionOptions; engine
    * function registrations do NOT (per-session registry), so the helper
    * re-registers them.
    */
  def withStreamSession[T](s: SparkSession)(body: SparkSession => T): T = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    graft.Tables.registerFunctions(ss)
    body(ss)
  }

  /** Drain the stream `plan` builds on a cloned session, like one
    * scheduler tick, and return its output: the union of the
    * micro-batches in batch-id order, or an empty frame with the
    * stream's schema when no batch ran. Each batch is stored as
    * `batch.localCheckpoint()` under its id, so a replayed id replaces
    * its entry instead of adding rows twice. The rows stay in the
    * executors' block managers until the caller unpersists them
    * (`getPersistentRDDs`) or `ContextCleaner` frees them with the
    * result. The checkpointed plans are handed back to the clone, so
    * downstream operators plan under its conf, not under the stream's
    * own clone (which runs with AQE off). A fresh run id names the
    * checkpoint `root/cp_<run>`, so a repeat call recomputes instead of
    * resuming (the data is deterministic, the run id is not). `plan`
    * receives the clone and opens its own sources there — a
    * stream-stream join reads each side from its own source. The state
    * store and the trigger are derived from the plan (see the object
    * doc); the checkpoint is deleted once the query has terminated. */
  def drainToMemory(s: SparkSession, root: String)
                   (plan: SparkSession => DataFrame): DataFrame =
    withStreamSession(s) { ss =>
      import org.apache.spark.sql.{Encoders, Row, classic}
      import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
      import org.apache.spark.sql.streaming.TimeMode
      val runId = java.util.UUID.randomUUID().toString.replace("-", "")
      val checkpoint = s"$root/cp_$runId"
      val stream = plan(ss)
      val timeModes = stream.queryExecution.logical.collect {
        case t: TransformWithState => t.timeMode
      }
      if (timeModes.nonEmpty)
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val processingTime = timeModes.contains(TimeMode.ProcessingTime())
      val session = ss.asInstanceOf[classic.SparkSession]
      val batches = new java.util.concurrent.ConcurrentSkipListMap[Long, DataFrame]()
      val w = stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val cp = batch.localCheckpoint()
          batches.put(id, new classic.Dataset[Row](session, cp.queryExecution.logical,
            Encoders.row(cp.schema)))
          ()
        }
      val q = (if (processingTime) w else w.trigger(Trigger.AvailableNow())).start()
      try {
        if (processingTime) drainAvailable(q) else q.awaitTermination()
      } finally {
        if (q.isActive) q.stop() // interrupted; a finished query needs no stop
        val p = new org.apache.hadoop.fs.Path(checkpoint)
        p.getFileSystem(ss.sparkContext.hadoopConfiguration).delete(p, true)
      }
      batches.values.asScala.reduceOption(_ union _).getOrElse(
        ss.createDataFrame(ss.sparkContext.emptyRDD[Row], stream.schema))
    }

  /** The one start/await body of the foreachBatch drains: AvailableNow
    * over `stream`, each micro-batch handed to `sink` with its id. */
  private def drainBatches(stream: DataFrame, checkpoint: String)
                          (sink: (DataFrame, Long) => Unit): DrainStats = {
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(sink)
      .start()
    q.awaitTermination()
    val progress = q.recentProgress
    DrainStats(progress.length,
      progress.iterator.flatMap(_.stateOperators.iterator)
        .map(_.numRowsDroppedByWatermark).sum)
  }

  /** Run one AvailableNow drain: read → dedup → foreachBatch upsert into
    * the parquet table at `sinkPath`. Returns after the backlog is fully
    * processed (awaitTermination), like one scheduler tick, with the
    * per-batch drop telemetry.
    */
  def drainOnce(spark: SparkSession, sourceDir: String, checkpoint: String,
                sinkPath: String, schemaFrom: DataFrame,
                maxFilesPerTrigger: Option[Int] = None): DrainStats =
    drainBatches(dedupWithinWatermark(
      readEvents(spark, sourceDir, schemaFrom, maxFilesPerTrigger))
      .withColumn("ingestion_time", current_timestamp()), checkpoint) { (batch, _) =>
      Upsert.upsert(spark, sinkPath, batch,
        keys = Seq("user_id", "event_type", "ts"),
        versionCol = "ingestion_time")
    }

  /** Streaming build of the dyadic counter tree — the mergeable-sketch
    * claim exercised LIVE: each micro-batch aggregates its OWN partial
    * (level, bucket) tree and lands it under `sink/batch_id=<id>`;
    * reading the sink and SUM-merging the partials reproduces the
    * batch tree exactly (integer counters merge by SUM like CMS).
    * foreachBatch is at-least-once and SUM is NOT idempotent, so the
    * partials are keyed by batchId and written with OVERWRITE — a
    * replayed batch rewrites its own directory instead of
    * double-counting (the standard idempotent foreachBatch layout).
    * At 100 TB each tick ships <= 8,190 counter rows; compaction of
    * old partials is a layout concern, not a correctness one. */
  def drainDyadicTree(spark: SparkSession, sourceDir: String,
                      checkpoint: String, sinkPath: String,
                      schemaFrom: DataFrame,
                      maxFilesPerTrigger: Option[Int] = None): DrainStats =
    drainBatches(readEvents(spark, sourceDir, schemaFrom, maxFilesPerTrigger),
      checkpoint) { (batch, id) =>
      graft.queries.Analytics.dyadicTree(batch)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$sinkPath/batch_id=$id")
    }

  /** Streaming CDC APPLY — the incremental form of the batch op-log
    * apply (q_w11): each micro-batch carries upserts and deletes keyed
    * by user, and the sink must converge to "latest op per key wins,
    * delete means absent" no matter how the ops split across batches
    * or arrive out of order. The sink therefore stores TOMBSTONES
    * (op = 'D' rows with their sequence position) instead of deleting
    * eagerly: an out-of-order upsert OLDER than an applied delete must
    * not resurrect the key, and only the tombstone's (ts, event_id)
    * can prove that. Each batch first reduces to its own latest op per
    * key (latestWins — deterministic under any partitioning), then
    * merges with the sink by the same rule; replaying a failed batch
    * re-derives the identical sink (foreachBatch's at-least-once is
    * absorbed by the merge's idempotence). Serving reads filter
    * `op <> 'D'`; tombstone GC past a compaction horizon is the
    * layout-side concern (q_ly_compacted_scan's machinery). */
  def drainCdc(spark: SparkSession, sourceDir: String, checkpoint: String,
               sinkPath: String, schemaFrom: DataFrame): DrainStats =
    drainBatches(readEvents(spark, sourceDir, schemaFrom)
      .select(col("user_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
          .as("op"),
        col("ts"), col("event_id"), col("value")), checkpoint) { (batch, _) =>
      val s = batch.sparkSession
      val latest = Upsert.latestWins(batch, Seq("user_id"), "ts",
        tieBreakers = Seq("event_id"))
      val merged =
        if (Upsert.tableExists(s, sinkPath))
          Upsert.latestWins(
            graft.Tables.read(s, sinkPath).unionByName(latest),
            Seq("user_id"), "ts", tieBreakers = Seq("event_id"))
        else latest
      Upsert.overwriteInPlace(s, sinkPath, merged)
    }

  /** The late-data DEAD LETTER drain: no row is silently lost. The
    * stateful dedup path drops sub-watermark rows inside the state
    * operator where they are unrecoverable, so this drain splits each
    * micro-batch BEFORE any stateful operator — the q_w10 quarantine
    * pattern applied to TIME instead of parse: late means
    * `ts < high-water(sink) − horizon`, the engine's own watermark rule
    * derived relationally from the data the sink has committed (the
    * max-ts row is never late, so sink high-water == max event time
    * seen). Late rows land in `quarantinePath` tagged with their batch
    * and the watermark that rejected them — replayable once the cause
    * is fixed, auditable meanwhile; fresh rows take the normal
    * idempotent-upsert path, deduped BY THE UPSERT KEY (the sink is the
    * dedup state — no state store at all, which at 100 TB trades the
    * watermark store for the sink merge the pipeline already pays for).
    */
  def drainWithLateQuarantine(spark: SparkSession, sourceDir: String,
                              checkpoint: String, sinkPath: String,
                              quarantinePath: String, schemaFrom: DataFrame,
                              horizon: String = "1 hour",
                              maxFilesPerTrigger: Option[Int] = None): DrainStats =
    drainBatches(readEvents(spark, sourceDir, schemaFrom, maxFilesPerTrigger)
      .withColumn("ingestion_time", current_timestamp()), checkpoint) { (batch, batchId) =>
      val s = batch.sparkSession
      // watermark = horizon behind the committed high-water; absent
      // sink (first batch) = no watermark yet, nothing is late —
      // exactly the engine's cold-start rule
      val hw: Option[java.sql.Timestamp] =
        if (Upsert.tableExists(s, sinkPath))
          Option(graft.Tables.read(s, sinkPath).agg(max(col("ts")))
            .head.getTimestamp(0))
        else None
      val lateIf = hw match {
        case Some(h) => col("ts") < lit(h) - expr(s"INTERVAL $horizon")
        case None => lit(false)
      }
      val tagged = batch.withColumn("__late", lateIf).localCheckpoint()
      val late = tagged.filter(col("__late")).drop("__late")
      // foreachBatch is at-least-once: a batch that fails after
      // this write re-executes with the SAME batchId. Partitioning
      // by batch_id with dynamic partition overwrite makes the
      // replay rewrite its own partition instead of appending a
      // duplicate copy — the quarantine stays exactly-once like
      // the upsert-protected main sink.
      if (!late.isEmpty)
        late.withColumn("batch_id", lit(batchId))
          .withColumn("watermark_ts", lit(hw.orNull))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(quarantinePath)
      Upsert.upsert(s, sinkPath, tagged.filter(!col("__late")).drop("__late"),
        keys = Seq("user_id", "event_type", "ts"),
        versionCol = "ingestion_time")
    }

  /** Windowed streaming aggregation (the serving-side rollup): per
    * 10-minute tumbling window × event_type counts and sums, emitted
    * append-mode once the watermark passes the window end. */
  def windowedCounts(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** CHAINED stateful operators in one streaming query — Spark 4's
    * multiple-stateful-operator support (SPARK-42376 lineage): a
    * 10-minute windowed aggregate feeding an HOUR-level windowed
    * aggregate of the window RESULTS, both append-mode, one watermark.
    * The chain is what a serving rollup cascade (minute → hour → day)
    * actually is; before multi-stateful support it took one query +
    * sink per level with hand-managed re-ingestion. The bridge is
    * `window_time(window)` — the event-time column of a windowed
    * result (window.end − 1µs, so each closed 10-min bucket lands in
    * the hour that CONTAINS it, boundary-exact because 10 divides 60).
    * Level-2 state holds open hour windows of bucket DIGESTS (n-per-
    * bucket rows, never raw events) — at 100 TB the second operator's
    * state/shuffle volume is bucket-grain, the same reduction the
    * batch two-level prefix sums exploit. peak_bucket (max per-bucket
    * count) is the column that makes the chain load-bearing: it needs
    * the bucket substructure a flat hour aggregate has already lost. */
  def chainedWindows(events: DataFrame, watermark: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n10"))
      .groupBy(window(window_time(col("window")), "1 hour").as("hw"),
        col("event_type"))
      .agg(sum(col("n10")).as("n_events"),
        count(lit(1)).as("n_buckets"),
        max(col("n10")).as("peak_bucket"))
      .select(col("hw.start").as("hour_start"), col("event_type"),
        col("n_events"), col("n_buckets"), col("peak_bucket"))

  /** Streaming sessionization: the same `session_window` aggregate as the
    * batch `q_t6_session_window` query, run incrementally — sessions
    * close (and emit, in append mode) once the watermark passes
    * last-event-time + gap. State per key is one open session, bounded by
    * the watermark horizon; merging of late-but-in-horizon events is
    * handled by the session-merge state operator, which is exactly the
    * semantics a custom flatMapGroupsWithState would re-implement by
    * hand. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Stream-static enrichment join — the stateless lookup against a
    * dimension snapshot that every ingestion pipeline runs per tick
    * (the reference resolves series metadata exactly this way on each
    * scheduler run). The dim snapshot is pinned when the dim DataFrame
    * is built (its file index resolves then), so a slowly-changing dim
    * is picked up at TICK granularity — each AvailableNow drain
    * constructs a fresh plan, like the reference's hourly runs
    * (spec-pinned: a dim rewrite between ticks re-tiers wave 2 only).
    * Broadcast keeps the stream side local — no state store, no stream
    * shuffle. An inner join against a filtered dim doubles as the
    * catalog gate: events without an admitted dim row drop out.
    */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key))

  /** Stream-stream interval join — the last Structured-Streaming join
    * class: two unbounded sides matched on an equi-key plus a time-range
    * predicate. Both sides are watermarked and the range condition bounds
    * how long a row can still find partners, so the join STATE is
    * evictable: a buffered view older than `watermark + within` can never
    * match a future click and is dropped. At scale state shards on the
    * join key across executors like every other stateful operator.
    *
    * Inner-join emission itself does not depend on the watermark (only
    * state cleanup and late-input dropping do), so over a fully-available
    * backlog the emitted set equals the batch interval join — which is
    * exactly what the driver oracle checks.
    */
  def intervalJoin(views: DataFrame, clicks: DataFrame,
                   within: String = "6 hours",
                   watermark: String = "1 hour",
                   joinType: String = "inner"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"),
      joinType)
      .select("user_id", "view_id", "click_id", "view_ts", "click_ts")
  }

  /** LEFT SEMI interval join — the existence probe, completing the
    * stream-stream join modes (inner, left outer, full outer, semi):
    * "views that converted within 6 hours", emitted as the VIEW row
    * only, exactly once, when its first matching click arrives. The
    * state story is what distinguishes semi from inner at scale: a
    * matched view needs no further buffering (the engine marks it
    * emitted), and click state exists only to satisfy future views —
    * the output never multiplies by match count, so a hot clicker
    * can't amplify the stream. Unmatched views vanish silently once
    * the watermark closes their window — the complement of the
    * left-outer null row. */
  def intervalJoinSemi(views: DataFrame, clicks: DataFrame,
                       within: String = "6 hours",
                       watermark: String = "1 hour"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"),
      "left_semi")
      .select("user_id", "view_id", "view_ts")
  }

  /** FULL OUTER interval join — both unmatched sides null-pad, each on
    * its own watermark-closure rule: an unmatched VIEW emits when the
    * watermark passes view_ts + within (no future click can land in
    * its window), an unmatched CLICK when the watermark passes
    * click_ts (any matching view has view_ts ≤ click_ts, and new rows
    * arrive at or after the watermark). The two rules are asymmetric
    * because the interval itself is — that asymmetry is what the
    * oracle models. join_user coalesces the two key columns so
    * right-null rows keep their key. */
  def intervalJoinFull(views: DataFrame, clicks: DataFrame,
                       within: String = "6 hours",
                       watermark: String = "1 hour"): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", watermark)
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    v.join(c,
      col("user_id") === col("click_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"),
      "full_outer")
      .select(coalesce(col("user_id"), col("click_user")).as("join_user"),
        col("view_id"), col("click_id"), col("view_ts"), col("click_ts"))
  }

  /** Per-user running state carried across micro-batches. The sum is
    * integer CENTS (values carry 2 decimals): exact accumulation makes
    * the emitted mean bit-reproducible across engines — a DuckDB
    * DECIMAL(18,2) window sum followed by one double division lands on
    * the identical IEEE value, so the operator is hash-oracle-able. */
  case class RunningStats(n: Long, sumCents: Long)

  /** One emitted anomaly: value exceeded `factor` × the running mean of
    * the user's PRIOR events (with at least `minN` priors). */
  case class Anomaly(user_id: Long, ts: java.sql.Timestamp, value: Double,
                     mean_before: Double)

  /** Custom keyed state via `flatMapGroupsWithState` — the operator for
    * state no built-in aggregate expresses (here: running-mean anomaly
    * flagging, where the DECISION depends on state *before* each row,
    * so a plain windowed agg can't emit mid-group). State per key is two
    * numbers; rows within a batch are processed in (ts, value) order so
    * replays are deterministic. At scale state shards on user_id across
    * executors exactly like the dedup/session state stores.
    */
  def anomalies(events: DataFrame, factor: Double = 3.0, minN: Long = 10)
  : org.apache.spark.sql.Dataset[Anomaly] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Double)],
         state: GroupState[RunningStats]) => {
          var st = state.getOption.getOrElse(RunningStats(0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer[Anomaly]()
          // batch-internal order is not guaranteed — sort for determinism.
          // getTime alone truncates to milliseconds: two micro-spaced
          // events in one millisecond would order by value here but by
          // full ts in the DuckDB oracle — getNanos carries the
          // sub-millisecond fraction.
          rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3)).foreach { case (_, ts, v) =>
            // exact mean of the priors: one correctly-rounded division of
            // an exact rational — reproducible, unlike a running double sum
            def mean = st.sumCents.toDouble / 100.0 / st.n
            if (st.n >= minN && v > factor * mean)
              out += Anomaly(uid, ts, v, mean)
            st = RunningStats(st.n + 1, st.sumCents + math.round(v * 100))
          }
          state.update(st)
          out.iterator
        })
  }

  /** The same anomaly operator on Spark 4's `transformWithState` API —
    * the forward path for custom keyed state: explicit NAMED state
    * variables (value/list/map), timers, per-state TTL, and state
    * schema evolution, none of which `flatMapGroupsWithState`'s single
    * opaque state value offers. Semantics are bit-identical to
    * [[anomalies]] (same per-key fold, same (ts, value) ordering, same
    * exact-cents mean), which StreamingSpec pins by running both
    * operators over the same backlog. Streaming runs REQUIRE the
    * RocksDB state store provider (the only backend the API supports —
    * also this engine's large-state answer everywhere else); batch
    * execution runs the processor over whole groups with empty initial
    * state, exactly like the flatMapGroupsWithState batch twin.
    */
  class AnomalyProcessor(factor: Double, minN: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Double), Anomaly] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var st: ValueState[RunningStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[RunningStats]("running",
        org.apache.spark.sql.Encoders.product[RunningStats], TTLConfig.NONE)

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        timerValues: TimerValues): Iterator[Anomaly] = {
      var s = if (st.exists()) st.get() else RunningStats(0L, 0L)
      val out = scala.collection.mutable.ArrayBuffer[Anomaly]()
      rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3)).foreach { case (_, ts, v) =>
        def mean = s.sumCents.toDouble / 100.0 / s.n
        if (s.n >= minN && v > factor * mean)
          out += Anomaly(uid, ts, v, mean)
        s = RunningStats(s.n + 1, s.sumCents + math.round(v * 100))
      }
      st.update(s)
      out.iterator
    }
  }

  /** [[anomalies]] through [[AnomalyProcessor]]/`transformWithState`. */
  def anomaliesV2(events: DataFrame, factor: Double = 3.0, minN: Long = 10)
  : org.apache.spark.sql.Dataset[Anomaly] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new AnomalyProcessor(factor, minN),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming near-dup dedup on `transformWithState` with MAP STATE +
    * NATIVE TTL — the forward-path form of [[neardupWithinWatermark]],
    * exercising the two API surfaces the value-state operators don't:
    * the grouping key is a SHARD of the signature space (64 shards —
    * in production, enough keys to spread across every executor), each
    * shard holds a MapState of signature → first-admit micros, and
    * state eviction is the store's native per-entry TTL instead of the
    * watermark horizon. That map-per-shard layout is the one that
    * matters when the dedup index outgrows a value per key: RocksDB
    * stores each (shard, sig) map entry as its own key, so a shard's
    * map never materializes whole in memory, while the TTL config
    * evicts idle signatures without any timer bookkeeping. A document
    * is admitted (emitted) iff its signature is absent from the shard
    * map at processing time; rows process in (sig, micros, doc_id)
    * order so replays are deterministic.
    */
  /** Per-drain observability for [[NearDupProcessor]] — the streaming
    * twin of the batch side's q_dd_cap_audit discipline: a skewed
    * stream must be VISIBLE, not inferred. `admitted`/`suppressed`
    * count the drain's dedup decisions; `shardAdmits` records one
    * (shard, admitted) sample per shard per batch, so a hot shard
    * (signature-space skew concentrating on one grouping key) shows up
    * as an outlier in the per-shard distribution. Accumulators, so a
    * task retry can over-count — observability semantics, never
    * correctness (the admitted ROWS are exactly-once via the sink).
    *
    * What is deliberately NOT counted: TTL evictions. The state store
    * expires map entries lazily with no eviction callback; the only way
    * to count them is an O(state) `seen.iterator()` walk per batch,
    * which would put scan cost into the hot path of the operator whose
    * whole design is O(input) per batch. Unlike the batch band buckets
    * there is no per-key blowup to watch for anyway: a map entry is one
    * long per SIGNATURE (never a member list), so a hot signature costs
    * suppression counts — visible here — not state growth. */
  case class NearDupStats(
      admitted: org.apache.spark.util.LongAccumulator,
      suppressed: org.apache.spark.util.LongAccumulator,
      shardAdmits: org.apache.spark.util.CollectionAccumulator[(Int, Long)]) {
    /** Max admitted in any single (shard, batch) cell — the skew probe. */
    def maxShardAdmits: Long = {
      val it = shardAdmits.value.iterator()
      var m = 0L
      while (it.hasNext) m = math.max(m, it.next()._2)
      m
    }
  }

  object NearDupStats {
    def apply(sc: org.apache.spark.SparkContext): NearDupStats =
      NearDupStats(sc.longAccumulator("neardup.admitted"),
        sc.longAccumulator("neardup.suppressed"),
        sc.collectionAccumulator[(Int, Long)]("neardup.shardAdmits"))
  }

  class NearDupProcessor(ttl: java.time.Duration,
                         stats: Option[NearDupStats] = None)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Int, (Int, String, java.sql.Timestamp, Long), (String, Long)] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TimeMode, TimerValues, TTLConfig}

    @transient private var seen: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Long]("seen",
        org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaLong,
        TTLConfig(ttl))

    override def handleInputRows(shard: Int,
        rows: Iterator[(Int, String, java.sql.Timestamp, Long)],
        timerValues: TimerValues): Iterator[(String, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      var nSuppressed = 0L
      rows.toSeq.sortBy(r => (r._2, tsMicros(r._3), r._4)).foreach { case (_, sig, ts, docId) =>
        if (!seen.containsKey(sig)) {
          seen.updateValue(sig, tsMicros(ts))
          out += ((sig, docId))
        } else nSuppressed += 1
      }
      stats.foreach { st =>
        st.admitted.add(out.length.toLong)
        st.suppressed.add(nSuppressed)
        st.shardAdmits.add((shard, out.length.toLong))
      }
      out.iterator
    }
  }

  /** Shard count for [[NearDupProcessor]]'s grouping key. */
  private[graft] val NearDupShards = 64

  /** Drain a PROCESSING-TIME stateful query until its file backlog is
    * exhausted, then stop it. Processing-time operators (state TTL,
    * processing-time timers) schedule a follow-up batch after every
    * batch, so `Trigger.AvailableNow` loops empty micro-batches forever
    * and `processAllAvailable` never observes the no-new-data signal;
    * the bounded form is to watch committed progress for a zero-input
    * batch — the static backlog is exhausted at that point — and stop.
    */
  def drainAvailable(q: StreamingQuery): Unit = {
    // TWO consecutive zero-input batches, not one: a restart first
    // re-runs the previous drain's interrupted batch PINNED to its old
    // offsets — if that batch was one of the empty churn batches it
    // commits 0 rows before the source ever lists the new files, and a
    // single-empty check would stop the drain with the new tick
    // unread (observed as v2 losing a tick under suite load). A
    // genuinely drained source yields consecutive empties; a pinned
    // re-run is followed by the catch-up data batch, breaking the pair.
    def drained: Boolean = {
      val ps = q.recentProgress
      ps.length >= 2 &&
        ps.takeRight(2).forall(p => p.batchId > 0 && p.numInputRows == 0)
    }
    while (!drained) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(50)
    }
    q.stop()
    q.awaitTermination()
  }

  /** Near-dup drain through [[NearDupProcessor]]: expects (doc_id, sig,
    * ts) with non-null signatures; emits (sig, doc_id) per admitted
    * document. TTL is the dedup horizon (processing-time — the TTL
    * clock the state store natively supports). */
  def neardupV2(docs: DataFrame, ttl: java.time.Duration,
                stats: Option[NearDupStats] = None)
  : org.apache.spark.sql.Dataset[(String, Long)] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = docs.sparkSession
    import spark.implicits._
    docs.selectExpr("doc_id", "sig", "ts")
      .as[(Long, String, java.sql.Timestamp)]
      .filter(_._2 != null) // no complete shingle: nothing to key on
      .map { case (docId, sig, ts) =>
        (math.floorMod(sig.hashCode, NearDupShards), sig, ts, docId) }
      .groupByKey(_._1)
      .transformWithState(new NearDupProcessor(ttl, stats),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** One trailing-window emission of [[RollingProcessor]]. */
  case class RollingOut(user_id: Long, ts: java.sql.Timestamp, value: Double,
                        w_n: Long, w_max: Double, w_sum_cents: Long)

  /** One retained tail entry: event order key + its value. */
  case class TailEntry(us: Long, value: Double)

  /** Trailing-window statistics per key on `transformWithState` with
    * LIST STATE — the remaining named-state primitive after value
    * (AnomalyProcessor) and map (NearDupProcessor). The operator needs
    * the last W−1 VALUES, not a mergeable digest: max over a trailing
    * frame cannot be maintained as running state (evicting the oldest
    * value can change the max arbitrarily), so the state is the ordered
    * tail itself. ListState is the right store for it — RocksDB keeps
    * each element as its own entry, `appendValue`/`appendList` extend
    * without rewriting the list (the unbounded-log use case), and the
    * bounded-window trim here uses `put` (rewrite W−1 tiny rows).
    * Rows process in (event-time micros, value) order per key, so with
    * a time-ordered backlog the emitted frames equal the batch window
    * `ROWS BETWEEN W−1 PRECEDING AND CURRENT ROW` — the DuckDB oracle —
    * and the tail carried in state makes frames SPAN batch boundaries
    * exactly (StreamingSpec pins the checkpointed 2-tick drain).
    * The frame sum rides in exact integer cents; max compares doubles
    * exactly; both reproducible across engines.
    */
  class RollingProcessor(window: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp, Double), RollingOut] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}

    @transient private var tail: ListState[TailEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      tail = getHandle.getListState[TailEntry]("tail",
        org.apache.spark.sql.Encoders.product[TailEntry], TTLConfig.NONE)

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        timerValues: TimerValues): Iterator[RollingOut] = {
      var t: IndexedSeq[TailEntry] = tail.get().toIndexedSeq
      val out = scala.collection.mutable.ArrayBuffer[RollingOut]()
      rows.toSeq.sortBy(r => (tsMicros(r._2), r._3)).foreach { case (_, ts, v) =>
        val frame = t :+ TailEntry(tsMicros(ts), v) // t is ≤ window−1 long
        out += RollingOut(uid, ts, v, frame.size.toLong,
          frame.map(_.value).max,
          frame.map(e => math.round(e.value * 100)).sum)
        t = frame.takeRight(window - 1)
      }
      if (t.nonEmpty) tail.put(t.toArray)
      out.iterator
    }
  }

  /** Trailing-window drain through [[RollingProcessor]]. */
  def rollingV2(events: DataFrame, window: Int = 3)
  : org.apache.spark.sql.Dataset[RollingOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts", "value")
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new RollingProcessor(window),
        TimeMode.None(), OutputMode.Append())
  }

  /** One leaderboard slot in state: (value, event_id) — the total order
    * is (value desc, event_id asc), tie-free by the unique id. */
  case class LeaderEntry(value: Double, event_id: Long)

  /** One emitted leaderboard row: `rev` increments per batch that
    * touched the key, so "the board as of now" = rows at max rev. */
  case class LeaderOut(event_type: String, rev: Long, rank: Int,
                       event_id: Long, value: Double)

  /** CONTINUOUS TOP-K — the serving leaderboard as a stateful
    * operator: per key (event type here; per-game/per-market in
    * production) the state is just the current top-K entries
    * (ListState, K rows — merging a batch is merge-sort-take, never a
    * rescan of history), and each batch that touches a key emits the
    * key's full refreshed board under an incremented revision. The
    * top-K-of-union-equals-top-K-of-top-Ks property is what makes K
    * rows of state sufficient forever — the same mergeability argument
    * as the KMV sketch, applied to order statistics. Rows are folded in
    * deterministic (value desc, id) order so replays and batch
    * slicings yield identical boards at every revision.
    */
  class LeaderboardProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long, Double), LeaderOut] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var board: ListState[LeaderEntry] = _
    @transient private var rev: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      board = getHandle.getListState[LeaderEntry]("board",
        org.apache.spark.sql.Encoders.product[LeaderEntry], TTLConfig.NONE)
      rev = getHandle.getValueState[Long]("rev",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Double)],
        timerValues: TimerValues): Iterator[LeaderOut] = {
      val merged = (board.get().toIndexedSeq ++
        rows.map(r => LeaderEntry(r._3, r._2)))
        .sortBy(e => (-e.value, e.event_id))
        .take(k)
      board.put(merged.toArray)
      val r = (if (rev.exists()) rev.get() else 0L) + 1L
      rev.update(r)
      merged.zipWithIndex.map { case (e, i) =>
        LeaderOut(key, r, i + 1, e.event_id, e.value)
      }.iterator
    }
  }

  /** [[LeaderboardProcessor]] over (event_type, event_id, value). */
  def leaderboard(events: DataFrame, k: Int = 5)
  : org.apache.spark.sql.Dataset[LeaderOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("event_type", "event_id", "value")
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new LeaderboardProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** One closed session: [start, last] with its event count. */
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                        session_last: java.sql.Timestamp, n_events: Long)

  /** Open-session state: bounds + count, one value per key. Bounds are
    * epoch MICROSECONDS — event timestamps in this engine carry
    * microseconds, and `Timestamp.getTime` alone would truncate to
    * milliseconds, diverging from the micro-precision `session_window`
    * aggregate on micro-grained data. */
  case class SessionAcc(startUs: Long, lastUs: Long, n: Long)

  /** Full-precision epoch micros of a Timestamp: `getTime` carries
    * millis; `getNanos` carries the whole fractional second. */
  private[graft] def tsMicros(ts: java.sql.Timestamp): Long =
    math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L

  /** Inverse of [[tsMicros]]: seconds from the micros, fraction via
    * setNanos so sub-millisecond digits survive the round-trip. */
  private[graft] def microsTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(us, 1000L))
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Hand-rolled sessionization on `transformWithState` exercising the
    * API surface the built-ins can't reach: EVENT-TIME TIMERS. The
    * built-in `session_window` aggregate closes sessions inside the
    * operator; this processor closes them explicitly — a session ends
    * either when a later in-batch event arrives past the gap, or when
    * the registered event-time timer (last event + gap) fires as the
    * watermark passes it (`handleExpiredTimer`). That timer path is
    * what window aggregates cannot express for CUSTOM state machines
    * (emit-on-inactivity, escalation deadlines, TTL'd enrichment), and
    * it is exactly what `flatMapGroupsWithState`'s coarse timeout
    * callback grew into. StreamingSpec holds the drained output equal
    * to the batch `session_window` aggregate over the closed prefix,
    * including sessions SPANNING a checkpointed tick boundary.
    */
  class SessionProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, java.sql.Timestamp), SessionOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var st: ValueState[SessionAcc] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessionAcc]("open_session",
        org.apache.spark.sql.Encoders.product[SessionAcc], TTLConfig.NONE)

    private def close(uid: Long, acc: SessionAcc): SessionOut =
      SessionOut(uid, microsTs(acc.startUs), microsTs(acc.lastUs), acc.n)

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val gapUs = gapMs * 1000L
      val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
      var acc: SessionAcc = if (st.exists()) st.get() else null
      rows.toSeq.map(r => tsMicros(r._2)).sorted.foreach { t =>
        if (acc == null) acc = SessionAcc(t, t, 1)
        else if (t - acc.lastUs <= gapUs) acc = SessionAcc(acc.startUs, t, acc.n + 1)
        else { // closed by DATA: a later event past the gap
          out += close(uid, acc)
          acc = SessionAcc(t, t, 1)
        }
      }
      // acc stays null if Spark ever invokes a key with an empty row
      // iterator (API-evolution safety — current Spark doesn't): leave
      // state and timers untouched rather than NPE.
      if (acc != null) {
        st.update(acc)
        // one pending timer per key: the open session's deadline moves
        // with its last event, so drop stale timers and arm the new one.
        // Timers are millisecond-granular; ceil so one never fires
        // before the micro-precision deadline.
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts.asInstanceOf[Long]))
        getHandle.registerTimer(math.floorDiv(acc.lastUs + gapUs + 999L, 1000L))
      }
      out.iterator
    }

    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
    : Iterator[SessionOut] =
      if (st.exists()) { // closed by TIME: the watermark passed last + gap
        val acc = st.get()
        st.clear()
        Iterator.single(close(uid, acc))
      } else Iterator.empty
  }

  /** Timer-driven sessionization drain: watermarked events through
    * [[SessionProcessor]] (event-time mode — timers fire as the
    * watermark passes them). RocksDB provider required, like every
    * transformWithState query. */
  def sessionsV2(events: DataFrame, gapMs: Long = 30L * 60 * 1000,
                 watermark: String = "1 hour")
  : org.apache.spark.sql.Dataset[SessionOut] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.selectExpr("user_id", "ts")
      .withWatermark("ts", watermark)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** One CEP match: a view converting DIRECTLY to a purchase. Same
    * output surface as the batch `Analytics.pattern` query. */
  case class PatternMatch(user_id: Long, view_id: Long,
                          view_ts: java.sql.Timestamp, purchase_id: Long,
                          purchase_ts: java.sql.Timestamp, gap_us: Long)

  /** Buffered event awaiting pattern decisions: kind 0 = view (the
    * pattern's A), 1 = click (the forbidden C), 2 = purchase (B). */
  case class PatternEv(tsUs: Long, eventId: Long, kind: Int)

  /** STREAMING CEP — the "A then B within W, with NO C between"
    * matcher (the stateful twin of the batch q_ev_pattern window
    * query; this is the operator class MATCH_RECOGNIZE / Flink CEP
    * ship as a primitive). Events buffer per user in ListState until
    * the watermark promises order-completeness, because the NEGATION
    * is what makes eager emission wrong: a purchase may look like a
    * direct conversion until an out-of-order click lands between it
    * and its view. A view's DECISION POINT is min(next purchase, view
    * + W): once the watermark passes it, no admissible event can sort
    * before it, so the match verdict is final.
    *
    * Decision arithmetic runs at WATERMARK GRANULARITY (milliseconds,
    * `floorDiv(dp, 1000)` vs the ms watermark Spark reports) so the
    * emit/withhold boundary is the same exact-integer comparison in
    * the operator, the oracle, and the spec — micro-grain timestamps
    * never meet the ms watermark directly. One event-time timer per
    * key tracks the earliest pending decision (dpMs + 1, the first
    * watermark value that can decide it); eviction keeps only
    * undecided views, events after the earliest undecided view, and
    * the ≤ W tail the next batch's views may need — state is bounded
    * by ~2 W of events per key regardless of history length.
    */
  class PatternProcessor(windowUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, java.sql.Timestamp, Int), PatternMatch] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TimeMode, TimerValues, TTLConfig}

    @transient private var buf: ListState[PatternEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[PatternEv]("pattern_buf",
        org.apache.spark.sql.Encoders.product[PatternEv], TTLConfig.NONE)

    /** Decide every view whose decision point is behind the watermark,
      * emit its match if the next event in the pattern alphabet is a
      * purchase inside the window, rewrite the buffer to the undecided
      * tail, and re-arm the timer at the earliest pending decision. */
    private def sweep(uid: Long, wmMs: Long,
                      expiredTimerMs: Long = Long.MinValue): Iterator[PatternMatch] = {
      val evs = buf.get().toArray.sortBy(e => (e.tsUs, e.eventId))
      if (evs.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer[PatternMatch]()
      val pendingFrom = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      var minPendingDpMs = Long.MaxValue
      evs.zipWithIndex.foreach { case (e, i) =>
        if (e.kind == 0) {
          val after = evs.view.slice(i + 1, evs.length)
          val np = after.find(_.kind == 2)
          val nc = after.find(_.kind == 1)
          val dpUs = np match {
            case Some(p) if p.tsUs <= e.tsUs + windowUs => p.tsUs
            case _ => e.tsUs + windowUs
          }
          val dpMs = math.floorDiv(dpUs, 1000L)
          if (dpMs < wmMs) {
            np match {
              case Some(p) if p.tsUs <= e.tsUs + windowUs &&
                nc.forall(c => p.tsUs < c.tsUs ||
                  (p.tsUs == c.tsUs && p.eventId < c.eventId)) =>
                out += PatternMatch(uid, e.eventId, microsTs(e.tsUs),
                  p.eventId, microsTs(p.tsUs), p.tsUs - e.tsUs)
              case _ => () // decided: no direct conversion
            }
          } else {
            pendingFrom += ((e.tsUs, e.eventId))
            minPendingDpMs = math.min(minPendingDpMs, dpMs)
          }
        }
      }
      // eviction: undecided views; non-views after the earliest
      // undecided view; and the trailing window a late-arriving view
      // could still reference (ts within W of the watermark)
      val keepFrom = if (pendingFrom.nonEmpty) pendingFrom.min else (Long.MaxValue, Long.MaxValue)
      val horizonUs = wmMs * 1000L - windowUs
      val kept = evs.filter { e =>
        if (e.kind == 0) pendingFrom.contains((e.tsUs, e.eventId))
        else e.tsUs > keepFrom._1 ||
          (e.tsUs == keepFrom._1 && e.eventId >= keepFrom._2) ||
          e.tsUs >= horizonUs
      }
      buf.clear()
      kept.foreach(buf.appendValue)
      // the just-expired timer is removed by the framework — deleting
      // it again only logs a warning per key, so skip it
      getHandle.listTimers().map(_.asInstanceOf[Long])
        .filter(_ != expiredTimerMs)
        .foreach(getHandle.deleteTimer)
      if (minPendingDpMs != Long.MaxValue)
        getHandle.registerTimer(minPendingDpMs + 1L)
      else if (kept.nonEmpty)
        // no pending views but buffered C/B events: arm a cleanup
        // sweep one window ahead so view-less keys cannot hoard state
        getHandle.registerTimer(wmMs + windowUs / 1000L + 1L)
      out.iterator
    }

    override def handleInputRows(uid: Long,
        rows: Iterator[(Long, Long, java.sql.Timestamp, Int)],
        timerValues: TimerValues): Iterator[PatternMatch] = {
      rows.foreach(r => buf.appendValue(PatternEv(tsMicros(r._3), r._2, r._4)))
      sweep(uid, timerValues.getCurrentWatermarkInMs())
    }

    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
    : Iterator[PatternMatch] =
      sweep(uid, timerValues.getCurrentWatermarkInMs(),
        expiredTimerInfo.getExpiryTimeInMs())
  }

  /** Watermarked CEP drain over (user_id, event_id, ts, event_type):
    * view→purchase within `window` with no click between. RocksDB
    * provider required, like every transformWithState query. */
  def patternV2(events: DataFrame, windowUs: Long = 3600L * 1000000L,
                watermark: String = "1 hour")
  : org.apache.spark.sql.Dataset[PatternMatch] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val spark = events.sparkSession
    import spark.implicits._
    events.where("event_type IN ('view', 'click', 'purchase')")
      .selectExpr("user_id", "event_id", "ts",
        "CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS kind")
      .withWatermark("ts", watermark)
      .as[(Long, Long, java.sql.Timestamp, Int)]
      .groupByKey(_._1)
      .transformWithState(new PatternProcessor(windowUs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
