package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.MicroBatch

class StreamingSpec extends SparkSpec {

  private def dir(name: String): String =
    Files.createTempDirectory(s"graft-$name").toString

  test("AvailableNow drain upserts the backlog idempotently") {
    val src = dir("stream-src")
    val sink = dir("stream-sink") + "/obs"
    val cp1 = dir("stream-cp1")

    val events = Tables.events(spark, sf).limit(200).cache()
    try {
      events.write.mode("overwrite").parquet(src)
      val expected = events.dropDuplicates(Seq("user_id", "event_type", "ts")).count()

      MicroBatch.drainOnce(spark, src, cp1, sink, events)
      assert(spark.read.parquet(sink).count() == expected)

      // replay the same backlog through a fresh checkpoint (simulates a
      // re-ingestion / recovery replay) — upsert keeps it a no-op
      MicroBatch.drainOnce(spark, src, dir("stream-cp2"), sink, events)
      assert(spark.read.parquet(sink).count() == expected)
    } finally events.unpersist() // don't leak the cache into later specs
  }

  test("bounded drain: maxFilesPerTrigger slices one backlog into many micro-batches") {
    // the backpressure lever: a multi-file backlog drains completely
    // under AvailableNow, but in file-bounded micro-batches — state and
    // shuffle per batch stay bounded no matter how large the backlog.
    // Waves land time-ascending (like real ingest) so the dedup
    // watermark never sees out-of-order batches.
    val src = dir("bounded-src")
    val sink = dir("bounded-sink") + "/obs"
    val cp = dir("bounded-cp")
    val events = Tables.events(spark, sf).cache()
    try {
      val cuts = Seq("2024-01-08", "2024-01-15", "2024-01-22")
        .map(d => java.sql.Timestamp.valueOf(s"$d 00:00:00"))
      val waves = Seq(
        events.filter(col("ts") < cuts(0)),
        events.filter(col("ts") >= cuts(0) && col("ts") < cuts(1)),
        events.filter(col("ts") >= cuts(1) && col("ts") < cuts(2)),
        events.filter(col("ts") >= cuts(2)))
      waves.foreach(_.coalesce(1).write.mode("append").parquet(src))

      MicroBatch.drainOnce(spark, src, cp, sink, events,
        maxFilesPerTrigger = Some(1))
      assert(spark.read.parquet(sink).count() ===
        events.dropDuplicates(Seq("user_id", "event_type", "ts")).count(),
        "the bounded drain must still consume the whole backlog")
      val batches = new java.io.File(s"$cp/offsets")
        .listFiles().count(_.getName.forall(_.isDigit))
      assert(batches >= 4,
        s"expected >=4 file-bounded micro-batches, got $batches")
    } finally events.unpersist()
  }

  test("late wave: engine drop count surfaces, quarantine drain loses no row") {
    // The engine's late-event filter runs against the PREVIOUS batch's
    // eviction watermark (so records valid when ingested aren't dropped
    // retroactively): a late wave landing ONE batch after the watermark
    // advanced passes through; landing TWO batches after, it is dropped
    // silently — numRowsDroppedByWatermark is the only trace. Construct
    // exactly that: wave1 (newest 3 h of events), wave1 re-landed (the
    // batch that seals the watermark), then a 50-row wave from 3+ hours
    // earlier.
    val events = Tables.events(spark, sf).cache()
    try {
      val cut = events.agg(max(col("ts"))).head.getTimestamp(0)
      val lateCut = new java.sql.Timestamp(cut.getTime - 3L * 3600 * 1000)
      val wave1 = events.filter(col("ts") >= lateCut)
      val late = events.filter(col("ts") < lateCut)
        .orderBy(desc("ts")).limit(50) // a bounded, decidedly-late wave
      assert(wave1.count() > 0 && late.count() === 50L)

      // land the three files with distinct mod times: the file source
      // orders micro-batches by modification time
      def landWaves(src: String): Unit = {
        wave1.coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
        wave1.coalesce(1).write.mode("append").parquet(src)
        Thread.sleep(1100)
        late.coalesce(1).write.mode("append").parquet(src)
      }

      // --- the windowed-agg drain drops the late wave SILENTLY; the
      // progress metric is the only trace, and the spec pins it ---
      val src0 = dir("late-src0")
      landWaves(src0)
      val name = s"graft_late_win_${java.util.UUID.randomUUID().toString.take(8)}"
      val wq = MicroBatch.windowedCounts(
        MicroBatch.readEvents(spark, src0, events, Some(1)))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", dir("late-cp0"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      wq.awaitTermination()
      val winDropped = wq.recentProgress.iterator
        .flatMap(_.stateOperators.iterator)
        .map(_.numRowsDroppedByWatermark).sum
      assert(winDropped === 50L,
        s"the windowed agg must count the dropped late wave, got $winDropped")

      // --- the dedup upsert drain drops them too — same silent loss,
      // surfaced by drainOnce: the sink ends up MISSING the late
      // rows and the metric is what says so ---
      val src1 = dir("late-src1")
      landWaves(src1)
      val sink1 = dir("late-sink1") + "/obs"
      val stats = MicroBatch.drainOnce(spark, src1, dir("late-cp1"),
        sink1, events, maxFilesPerTrigger = Some(1))
      assert(stats.batches >= 3)
      assert(stats.droppedByWatermark === 50L,
        s"expected the late wave counted as dropped, got $stats")
      assert(spark.read.parquet(sink1).filter(col("ts") < lateCut).count()
        === 0L, "the dropped late rows must be absent from the sink")

      // --- the quarantine drain: same backlog, zero silent loss ---
      val src2 = dir("late-src2")
      val sink2 = dir("late-sink2") + "/obs"
      val quar = dir("late-quar") + "/dead_letter"
      landWaves(src2)
      MicroBatch.drainWithLateQuarantine(spark, src2, dir("late-cp2"),
        sink2, quar, events, horizon = "3 hours",
        maxFilesPerTrigger = Some(1))
      val quarantined = spark.read.parquet(quar)
      assert(quarantined.count() === 50L,
        "every late row must land in the dead letter, tagged")
      assert(quarantined.columns.contains("batch_id") &&
        quarantined.columns.contains("watermark_ts"))
      // nothing lost: sink ∪ quarantine covers every distinct input key
      val sinkKeys = spark.read.parquet(sink2)
        .select("user_id", "event_type", "ts")
      val quarKeys = quarantined.select("user_id", "event_type", "ts")
      val allKeys = wave1.union(late).select("user_id", "event_type", "ts")
        .distinct()
      assert(allKeys.except(sinkKeys.union(quarKeys)).isEmpty,
        "a row vanished: neither upserted nor quarantined")
      // and the sink holds no late row
      assert(spark.read.parquet(sink2)
        .filter(col("ts") < lateCut).count() === 0L)
    } finally events.unpersist()
  }


  test("leaderboard: every revision equals the batch top-k of the data so far") {
    // the merge contract, observed across a 2-batch slicing: after each
    // tick, a key's emitted board must equal the BATCH top-5 over all
    // data that had arrived by that tick — K rows of state carry
    // everything needed (top-K of a union == top-K of the top-Ks)
    val events = Tables.events(spark, sf).cache()
    try {
      val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      val w1 = events.filter(col("ts") < cut)
      val w2 = events.filter(col("ts") >= cut)
      val src = dir("lead-src")
      w1.coalesce(1).write.mode("append").parquet(src)
      Thread.sleep(1100)
      w2.coalesce(1).write.mode("append").parquet(src)
      val name = s"graft_lead_spec_${java.util.UUID.randomUUID().toString.take(8)}"
      // two state variables (ListState + ValueState) = multiple column
      // families — RocksDB only
      val prevProvider =
        spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
      val q = MicroBatch.leaderboard(
        MicroBatch.readEvents(spark, src, events, Some(1)))
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", dir("lead-cp"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table(name).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rev"),
          r.getAs[Int]("rank"), r.getAs[Long]("event_id")))
      def batchTop(df: org.apache.spark.sql.DataFrame) = df
        .select("event_type", "event_id", "value").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (t, rs) =>
          t -> rs.sortBy(r => (-r._3, r._2)).take(5).map(_._2).toSeq
        }
      val afterT1 = batchTop(w1)
      val afterAll = batchTop(events)
      out.groupBy(_._1).foreach { case (t, rows) =>
        val byRev = rows.groupBy(_._2)
        val maxRev = byRev.keys.max
        def boardAt(rev: Long) =
          byRev(rev).sortBy(_._3).map(_._4).toSeq
        assert(boardAt(maxRev) === afterAll(t),
          s"final board for $t diverges from the batch top-5")
        if (byRev.size > 1) // the key was touched in both ticks
          assert(boardAt(1L) === afterT1(t),
            s"tick-1 board for $t diverges from the batch top-5 of tick 1")
      }
      } finally prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    } finally events.unpersist()
  }

  test("leaderboard state survives a restart: two drains, one checkpoint") {
    // the scheduler-tick shape: drain tick 1, process exits, tick 2
    // lands, a NEW drain resumes from the checkpoint — the board must
    // carry the tick-1 top-k through the restart (ListState recovery),
    // ending equal to the batch top-5 over both ticks
    val events = Tables.events(spark, sf).cache()
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      val src = dir("lead2-src")
      val cp = dir("lead2-cp")
      val sink = dir("lead2-sink") + "/boards"
      // memory sinks cannot recover from a checkpoint — cross-drain
      // tests need a file/foreachBatch sink (the q_st continuity rule)
      def drain(): Unit = {
        val q = MicroBatch.leaderboard(
          MicroBatch.readEvents(spark, src, events))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[MicroBatch.LeaderOut],
             _: Long) =>
              batch.write.mode("append").parquet(sink)
          }
          .start()
        q.awaitTermination()
      }
      events.filter(col("ts") < cut).coalesce(1)
        .write.mode("append").parquet(src)
      drain() // tick 1
      events.filter(col("ts") >= cut).coalesce(1)
        .write.mode("append").parquet(src)
      drain() // tick 2 resumes from the checkpoint
      val finalBoard = spark.read.parquet(sink).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rev"),
          r.getAs[Int]("rank"), r.getAs[Long]("event_id")))
        .groupBy(_._1).map { case (t, rows) =>
          val maxRev = rows.map(_._2).max
          t -> rows.filter(_._2 == maxRev).sortBy(_._3).map(_._4).toSeq
        }
      val expected = events.select("event_type", "event_id", "value")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (t, rs) =>
          t -> rs.sortBy(r => (-r._3, r._2)).take(5).map(_._2).toSeq
        }
      assert(finalBoard === expected,
        "post-restart board must equal the batch top-5 over both ticks")
    } finally {
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
      events.unpersist()
    }
  }

  test("two scheduler ticks with a shared checkpoint drain incrementally") {
    // The reference's hourly tick = one AvailableNow drain; the SECOND
    // tick must resume from the checkpoint (processing only files landed
    // since tick 1) and the sink must converge to the full key set via
    // the upsert merge against the now-nonempty table. This is the
    // cross-run state path a single-drain test never exercises.
    val src = dir("tick-src")
    val sink = dir("tick-sink") + "/obs"
    val cp = dir("tick-cp")
    val events = Tables.events(spark, sf).cache()
    try {
      // waves split by TIME: the checkpoint carries the watermark across
      // ticks, so a second wave that interleaved with the first would be
      // (correctly) dropped as late — ticks ingest newer data, like the
      // reference's hourly pulls
      val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      val wave1 = events.filter(col("ts") < cut)
      val wave2 = events.filter(col("ts") >= cut)
      wave1.write.mode("append").parquet(src)
      MicroBatch.drainOnce(spark, src, cp, sink, events)
      val afterTick1 = spark.read.parquet(sink).count()
      assert(afterTick1 ===
        wave1.dropDuplicates(Seq("user_id", "event_type", "ts")).count())

      wave2.write.mode("append").parquet(src) // new files land between ticks
      MicroBatch.drainOnce(spark, src, cp, sink, events)
      val afterTick2 = spark.read.parquet(sink)
      assert(afterTick2.count() ===
        events.dropDuplicates(Seq("user_id", "event_type", "ts")).count())
      assert(afterTick2.count() > afterTick1, "tick 2 must add the new wave")
    } finally events.unpersist()
  }

  test("CDC drain: tombstones block out-of-order resurrection, newer upserts revive") {
    import ss.implicits._
    val src = dir("cdc-src")
    val sink = dir("cdc-sink") + "/state"
    val cp = dir("cdc-cp")
    def t(sec: Int) = new java.sql.Timestamp(1704067200000L + sec * 1000L)
    def land(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): Unit =
      rows.map { case (id, ts, u, et, v) => (id, ts, u, et, v, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(src)
    val schemaFrom = Seq((1L, t(0), 1L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // tick 1: u1 upserted then DELETED; u2 deleted; u3 upserted
    land(Seq(
      (1L, t(10), 1L, "view", 1.0),
      (2L, t(20), 1L, "error", 0.0),
      (3L, t(5), 2L, "error", 0.0),
      (4L, t(8), 3L, "click", 3.0)))
    MicroBatch.drainCdc(spark, src, cp, sink, schemaFrom)
    def serving() = spark.read.parquet(sink).filter(col("op") =!= "D")
      .collect().map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("event_id"), r.getAs[Double]("value"))).toMap
    assert(serving() === Map(3L -> ((4L, 3.0))), s"tick1: ${serving()}")
    // tick 2, OUT OF ORDER: u1 gets an upsert OLDER than its delete —
    // the tombstone must win; u2 gets a NEWER upsert — legitimately
    // revived; u3 gets a newer upsert — replaced
    land(Seq(
      (5L, t(15), 1L, "view", 9.0), // older than u1's delete at t(20)
      (6L, t(6), 2L, "view", 7.0), // newer than u2's delete at t(5)
      (7L, t(9), 3L, "view", 8.0)))
    MicroBatch.drainCdc(spark, src, cp, sink, schemaFrom)
    assert(serving() === Map(2L -> ((6L, 7.0)), 3L -> ((7L, 8.0))),
      s"tick2: ${serving()}")
    // the tombstone itself is retained (GC is a layout concern)
    val tomb = spark.read.parquet(sink).filter(col("op") === "D")
      .collect().map(_.getAs[Long]("user_id")).toSet
    assert(tomb === Set(1L), s"tombstones: $tomb")
  }

  test("near-dup drain dedups by signature across two checkpointed ticks") {
    // Tick 1 admits a corpus wave; tick 2 lands a wave that REPEATS one
    // document's content verbatim (new doc_id, same text ⇒ same minhash
    // signature) plus one genuinely new document, both with LATER event
    // times. The shared checkpoint must carry the signature state across
    // ticks: the repeat is dropped, the new content admitted.
    import ss.implicits._
    val src = dir("nd-src")
    val cp = dir("nd-cp")
    val sink = dir("nd-sink")
    // a FILE sink, not memory: memory sinks cannot recover from a
    // checkpoint, and cross-tick signature state is the point here
    def drain(): Unit = {
      val docs = Seq((0L, "")).toDF("doc_id", "text")
      val stream = MicroBatch.readEvents(spark, src, docs)
        .select(col("doc_id"),
          graft.queries.Dedup.minhashSigCol(col("text")).as("sig"),
          timestamp_micros(col("doc_id") * 1000000L + lit(1704067200000000L)).as("ts"))
        .filter(col("sig").isNotNull)
      val q = MicroBatch.neardupWithinWatermark(stream)
        .select("doc_id", "sig")
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def admitted(): Set[Long] =
      spark.read.parquet(sink).collect().map(_.getLong(0)).toSet
    val textA = "alpha beta gamma delta epsilon zeta"
    val textB = "one two three four five six seven"
    val textC = "red orange yellow green blue indigo violet"
    Seq((1L, textA), (2L, textB)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    drain()
    assert(admitted() == Set(1L, 2L), s"tick 1 must admit both docs: ${admitted()}")

    // tick 2: doc 3 repeats textA's content verbatim; doc 4 is new content
    Seq((3L, textA), (4L, textC)).toDF("doc_id", "text")
      .write.mode("append").parquet(src)
    drain()
    assert(admitted() == Set(1L, 2L, 4L),
      s"tick 2 must drop the repeat and admit the new content: ${admitted()}")
  }

  test("windowed aggregation matches the batch rollup") {
    val src = dir("w-src")
    val events = Tables.events(spark, sf).limit(500).cache()
    try {
    events.write.mode("overwrite").parquet(src)

    val stream = MicroBatch.windowedCounts(
      MicroBatch.readEvents(spark, src, events))
    val q = stream.writeStream
      .format("memory").queryName("wc")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // batch equivalent over the same data (windows whose end precedes the
    // final watermark are emitted; with AvailableNow the last windows may
    // be withheld, so compare only emitted windows)
    val emitted = spark.table("wc")
    val batch = events
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))
    val joined = emitted.alias("s").join(batch.alias("b"),
      Seq("window_start", "event_type"))
    // every emitted row must agree with the batch rollup
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).isEmpty)
    } finally events.unpersist()
  }

  test("chained windowed aggregates: emitted hours match the batch two-level rollup") {
    val src = dir("ch-src")
    val events = Tables.events(spark, sf).limit(2000).cache()
    try {
    events.write.mode("overwrite").parquet(src)

    val q = MicroBatch.chainedWindows(
      MicroBatch.readEvents(spark, src, events))
      .writeStream
      .format("memory").queryName("chw")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // batch two-level twin: 10-min buckets, then hour rollup of the
    // bucket rows — peak_bucket requires the substructure, so agreement
    // proves the SECOND stateful operator consumed the first's results
    val batch = events
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n10"))
      .groupBy(window(col("window.start"), "1 hour").as("hw"), col("event_type"))
      .agg(sum(col("n10")).as("n_events"), count(lit(1)).as("n_buckets"),
        max(col("n10")).as("peak_bucket"))
      .select(col("hw.start").as("hour_start"), col("event_type"),
        col("n_events"), col("n_buckets"), col("peak_bucket"))
    val emitted = spark.table("chw")
    assert(emitted.count() > 0)
    val joined = emitted.alias("s").join(batch.alias("b"),
      Seq("hour_start", "event_type"))
    assert(joined.count() === emitted.count(),
      "every emitted hour must exist in the batch twin")
    assert(joined.filter(
      col("s.n_events") =!= col("b.n_events") ||
        col("s.n_buckets") =!= col("b.n_buckets") ||
        col("s.peak_bucket") =!= col("b.peak_bucket")).isEmpty)
    } finally events.unpersist()
  }

  test("streaming session windows agree with the batch session_window query") {
    val src = dir("sess-src")
    val events = Tables.events(spark, sf).limit(500).cache()
    try {
    events.write.mode("overwrite").parquet(src)

    val q = MicroBatch.sessionCounts(MicroBatch.readEvents(spark, src, events))
      .writeStream
      .format("memory").queryName("sc")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val batch = events
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
    // append mode may withhold sessions still open at the final watermark;
    // every session the stream DID emit must match batch exactly
    val joined = spark.table("sc").alias("s")
      .join(batch.alias("b"), Seq("user_id", "session_start"))
    assert(joined.filter(col("s.n_events") =!= col("b.n_events")).isEmpty)
    assert(spark.table("sc").count() > 0)
    } finally events.unpersist()
  }

  test("stream-static enrichment picks up a dim change at the next tick") {
    import ss.implicits._
    // the claim in MicroBatch.enrich: the static side re-resolves per
    // micro-batch, so a slowly-changing dim is honored at tick
    // granularity — wave 2 must see the UPDATED dim (user 20 admitted,
    // user 10 demoted) while wave 1's emitted rows keep the old tiers
    val src = dir("en-src")
    val dimPath = dir("en-dim") + "/dim"
    val cp = dir("en-cp")
    val out = dir("en-out") + "/enriched"
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val wave1 = Seq((1L, 10L, "view", t("2024-01-01 00:00:00"), 1.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val wave2 = Seq(
      (2L, 10L, "view", t("2024-01-02 00:00:00"), 1.0),
      (3L, 20L, "view", t("2024-01-02 00:00:01"), 1.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")

    Seq((10L, "gold")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimPath)
    def tick(wave: org.apache.spark.sql.DataFrame): Unit = {
      wave.write.mode("append").parquet(src)
      // the dim snapshot is taken when the per-tick query is BUILT (its
      // file index pins then), exactly like the per-tick drains rebuild
      // their plans; a parquet-append sink because memory sinks cannot
      // resume a checkpoint across ticks, which is the whole point here
      val dim = spark.read.parquet(dimPath)
      val q = MicroBatch.enrich(
        MicroBatch.readEvents(spark, src, wave), dim, "user_id")
        .select("event_id", "user_id", "tier")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out): Unit
        }
        .option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    tick(wave1)
    // dim changes BETWEEN ticks: user 10 demoted, user 20 admitted
    Seq((10L, "silver"), (20L, "gold")).toDF("user_id", "tier")
      .write.mode("overwrite").parquet(dimPath)
    tick(wave2)

    val got = spark.read.parquet(out).as[(Long, Long, String)].collect().toSet
    assert(got === Set((1L, 10L, "gold"), (2L, 10L, "silver"), (3L, 20L, "gold")))
  }

  test("stream-stream interval join emits exactly the batch join incl. boundaries") {
    import ss.implicits._
    val src = dir("sj-src")
    // constructed corpus with the edge cases the oracle row can't isolate:
    // a click exactly AT view_ts + 6h (inclusive upper bound), one just
    // past it, one before the view, and a cross-user non-match
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, 10L, "view", t("2024-01-01 00:00:00"), 1.0),
      (2L, 10L, "click", t("2024-01-01 06:00:00"), 1.0), // = +6h → match
      (3L, 10L, "click", t("2024-01-01 06:00:00.000001"), 1.0), // past 1 → no; within 7
      (4L, 10L, "click", t("2023-12-31 23:59:59"), 1.0), // before → no
      (5L, 11L, "click", t("2024-01-01 00:30:00"), 1.0), // other user → no
      (6L, 11L, "view", t("2024-01-01 00:00:01"), 1.0), // → matches 5
      (7L, 10L, "view", t("2024-01-01 05:00:00"), 1.0)) // → matches 2 and 3
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    events.write.mode("overwrite").parquet(src)

    val q = MicroBatch.intervalJoin(
      MicroBatch.readEvents(spark, src, events).filter(col("event_type") === "view"),
      MicroBatch.readEvents(spark, src, events).filter(col("event_type") === "click"))
      .writeStream
      .format("memory").queryName("sj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("sj").select("view_id", "click_id")
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (6L, 5L), (7L, 2L), (7L, 3L)))
  }

  test("semi interval join emits each converting view once, never per click") {
    val src = dir("ssj-src")
    val events = Tables.events(spark, sf).limit(2000).cache()
    try {
    events.write.mode("overwrite").parquet(src)
    def side(t: String) = MicroBatch.readEvents(spark, src, events)
      .filter(col("event_type") === t)
    val q = MicroBatch.intervalJoinSemi(side("view"), side("click"))
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val emitted = spark.table("ssj").collect().map(_.getAs[Long]("view_id"))
    // once per view — a multi-click window must not multiply the output
    assert(emitted.length === emitted.distinct.length)
    // and the set is exactly the batch EXISTS
    val v = events.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("vts"))
    val c = events.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("ts").as("cts"))
    val expected = v.join(c,
        col("user_id") === col("cu") && col("cts") >= col("vts") &&
          col("cts") <= col("vts") + expr("INTERVAL 6 HOURS"))
      .select("view_id").distinct().collect().map(_.getLong(0))
    assert(emitted.toSet === expected.toSet)
    // sanity that the multi-click case is actually exercised
    assert(expected.length < v.count(),
      "some views must NOT convert or the semi filter is vacuous")
    } finally events.unpersist()
  }

  test("left-outer interval join null-pads expired views and withholds the tail") {
    import ss.implicits._
    val src = dir("oj-src")
    // constructed corpus isolating the watermark-expiry rule: the final
    // watermark is min(max view_ts, max click_ts) - 1h = 2024-01-02
    // 23:00. View 1 (window ends 06:00 Jan 1) is far below it → its
    // unmatched row must emit null-padded. View 6 (window ends 23:30
    // Jan 2) is INSIDE the horizon → still buffered, must NOT emit.
    // View 7 matches click 2 → emits regardless of the watermark.
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, 10L, "view", t("2024-01-01 00:00:00"), 1.0), // unmatched, expired → null row
      (2L, 10L, "click", t("2024-01-01 11:00:00"), 1.0), // matches 7 only
      (6L, 10L, "view", t("2024-01-02 17:30:00"), 1.0), // unmatched, tail → withheld
      (7L, 10L, "view", t("2024-01-01 05:30:00"), 1.0), // → matches 2
      (8L, 10L, "click", t("2024-01-03 00:00:00"), 1.0)) // advances click watermark
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    events.write.mode("overwrite").parquet(src)

    val q = MicroBatch.intervalJoin(
      MicroBatch.readEvents(spark, src, events).filter(col("event_type") === "view"),
      MicroBatch.readEvents(spark, src, events).filter(col("event_type") === "click"),
      joinType = "left_outer")
      .writeStream
      .format("memory").queryName("oj")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val got = spark.table("oj").select("view_id", "click_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(got === Set((1L, None), (7L, Some(2L))),
      s"expected the expired null row and the match only, got $got")
  }

  test("outer-join buffered state survives a checkpoint restart and flushes later") {
    import ss.implicits._
    // Tick 1: view A (unmatched) and view C (matched by click X) — the
    // tick-1 watermark cannot expire A (view-side max is still A/C's
    // hour), so A sits in join STATE at the checkpoint. Tick 2 lands a
    // much later view+click: the watermark jumps past A's window end,
    // and A's null-padded row must emit from RESTORED state — the
    // cross-restart path a single drain never exercises. View B (tick 2)
    // matches the tick-2 click inner-style; the tail-withholding case is
    // pinned by the single-drain spec above.
    val src = dir("oj2-src")
    val sink = dir("oj2-sink") + "/pairs"
    val cp = dir("oj2-cp")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def drain(): Unit = {
      val q = MicroBatch.intervalJoin(
        MicroBatch.readEvents(spark, src, spark.read.parquet(src))
          .filter(col("event_type") === "view"),
        MicroBatch.readEvents(spark, src, spark.read.parquet(src))
          .filter(col("event_type") === "click"),
        joinType = "left_outer")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val wave1 = Seq(
      // A's join window [19:00, 01:00] closes BEFORE click X (02:00), so
      // A is genuinely unmatched; the tick-1 watermark
      // (min(00:30, 02:00) − 1h = Dec 31 23:30) is still below A's
      // window end (01:00), so A cannot expire in tick 1
      (1L, 10L, "view", t("2023-12-31 19:00:00"), 1.0), // A: unmatched (window ends 01:00)
      (2L, 10L, "view", t("2024-01-01 00:30:00"), 1.0), // C: matched by X
      (3L, 10L, "click", t("2024-01-01 02:00:00"), 1.0)) // X
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    wave1.write.mode("append").parquet(src)
    drain()
    val tick1 = spark.read.parquet(sink)
      .select("view_id", "click_id").as[(Long, Option[Long])].collect().toSet
    assert(tick1 === Set((2L, Some(3L))),
      s"tick 1 must emit only the inner match (A still buffered), got $tick1")

    val wave2 = Seq(
      (4L, 10L, "view", t("2024-01-02 17:00:00"), 1.0), // B: tail, withheld
      (5L, 10L, "click", t("2024-01-02 18:00:00"), 1.0)) // advances watermark
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    wave2.write.mode("append").parquet(src)
    drain()
    val tick2 = spark.read.parquet(sink)
      .select("view_id", "click_id").as[(Long, Option[Long])].collect().toSet
    assert(tick2 === Set((2L, Some(3L)), (4L, Some(5L)), (1L, None)),
      s"tick 2 must flush A's null row from restored state, got $tick2")
  }

  test("flatMapGroupsWithState anomalies match the batch prefix-mean rule") {
    val src = dir("an-src")
    val events = Tables.events(spark, sf).cache()
    try {
    events.write.mode("overwrite").parquet(src)

    val q = MicroBatch.anomalies(MicroBatch.readEvents(spark, src, events))
      .writeStream
      .format("memory").queryName("anom")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // batch twin: anomaly iff value > 3 × mean of the user's >=10 PRIOR
    // events in (ts, value) order — the exact rule the state op applies
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "value")
    val expected = events
      .withColumn("n_before", count(lit(1)).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("mean_before", avg(col("value")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .filter(col("n_before") >= 10 && col("value") > col("mean_before") * 3)
    val got = spark.table("anom")
    assert(got.count() === expected.count())
    assert(got.count() > 0, "corpus should contain at least one anomaly")
    // exact row set agreement on the key fields
    assert(got.select("user_id", "ts", "value")
      .except(expected.select("user_id", "ts", "value")).isEmpty)
    } finally events.unpersist()
  }

  test("anomaly state continues across two checkpointed ticks") {
    // The RUNNING-MEAN state must survive an AvailableNow restart: a
    // user's priors from tick 1 must count toward tick 2's decisions.
    // Emitted(tick1) ∪ emitted(tick2) must equal the batch prefix-mean
    // rule over ALL events — which only holds if RunningStats was
    // carried through the checkpoint, not rebuilt from scratch.
    val src = dir("an2-src")
    val cp = dir("an2-cp")
    val sink = dir("an2-sink")
    val events = Tables.events(spark, sf).cache()
    try {
      val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      def drain(): Unit = {
        val q = MicroBatch.anomalies(MicroBatch.readEvents(spark, src, events))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      events.filter(col("ts") < cut).write.mode("append").parquet(src)
      drain()
      val afterTick1 = spark.read.parquet(sink).count()
      events.filter(col("ts") >= cut).write.mode("append").parquet(src)
      drain()

      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "value")
      val expected = events
        .withColumn("n_before", count(lit(1)).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
        .withColumn("mean_before", avg(col("value")).over(
          w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
        .filter(col("n_before") >= 10 && col("value") > col("mean_before") * 3)
      val got = spark.read.parquet(sink)
      assert(got.count() === expected.count(),
        s"tick1=$afterTick1 total=${got.count()} expected=${expected.count()}")
      assert(got.count() > afterTick1, "tick 2 must add anomalies using tick-1 priors")
      assert(got.select("user_id", "ts", "value")
        .except(expected.select("user_id", "ts", "value")).isEmpty)
    } finally events.unpersist()
  }

  test("transformWithState anomaly operator equals the flatMapGroupsWithState one") {
    // The Spark 4 state API port: same backlog through BOTH operators —
    // anomaliesV2 (StatefulProcessor + named ValueState, streaming under
    // the RocksDB provider the API requires, state carried across two
    // checkpointed ticks) and the batch prefix-mean twin — must emit
    // the identical anomaly set with identical exact-cents means.
    val src = dir("tws-src")
    val cp = dir("tws-cp")
    val sink = dir("tws-sink")
    val events = Tables.events(spark, sf).cache()
    try {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "8")
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      def drain(): Unit = {
        val q = MicroBatch.anomaliesV2(MicroBatch.readEvents(ss, src, events))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      events.filter(col("ts") < cut).write.mode("append").parquet(src)
      drain()
      events.filter(col("ts") >= cut).write.mode("append").parquet(src)
      drain()
      val got = spark.read.parquet(sink)
      val batchTwin = MicroBatch.anomalies(events.select("user_id", "ts", "value")).toDF()
      assert(got.count() > 0, "corpus should contain at least one anomaly")
      assert(got.count() === batchTwin.count(),
        s"tws=${got.count()} fmgws=${batchTwin.count()}")
      // full-row agreement including the emitted mean (exact cents on
      // both paths, so the doubles must be bit-identical)
      assert(got.except(batchTwin).isEmpty && batchTwin.except(got).isEmpty,
        "transformWithState and flatMapGroupsWithState must agree row-for-row")
    } finally events.unpersist()
  }

  test("ListState rolling window carries the tail across two checkpointed ticks") {
    // The third named-state primitive (after value and map): the
    // trailing-3 frame must SPAN the tick boundary — tick 2's first
    // event per user frames with up to 2 tick-1 values restored from
    // ListState. Equality with the batch ROWS-window twin over ALL
    // events is the proof: a drain that rebuilt state from scratch
    // would emit w_n < 3 (and wrong max/sum) exactly at the boundary
    // rows where the twin says otherwise.
    val src = dir("roll-src")
    val cp = dir("roll-cp")
    val sink = dir("roll-sink")
    val events = Tables.events(spark, sf).cache()
    try {
      val ss2 = spark.newSession()
      ss2.conf.set("spark.sql.shuffle.partitions", "8")
      ss2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val cut = java.sql.Timestamp.valueOf("2024-01-15 00:00:00")
      def drain(): Unit = {
        val q = MicroBatch.rollingV2(MicroBatch.readEvents(ss2, src, events))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      events.filter(col("ts") < cut).write.mode("append").parquet(src)
      drain()
      val afterTick1 = spark.read.parquet(sink).count()
      events.filter(col("ts") >= cut).write.mode("append").parquet(src)
      drain()
      val got = spark.read.parquet(sink)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts", "value").rowsBetween(-2, 0)
      val twin = events.select(
        col("user_id"), col("ts"), col("value"),
        count(lit(1)).over(w).as("w_n"),
        max(col("value")).over(w).as("w_max"),
        sum(round(col("value") * 100).cast("long")).over(w).as("w_sum_cents"))
      assert(got.count() === events.count(), "every event emits one frame")
      assert(got.count() > afterTick1 && afterTick1 > 0, "both ticks must emit")
      assert(got.except(twin).isEmpty && twin.except(got).isEmpty,
        "2-tick ListState frames must equal the batch ROWS-window twin")
      // boundary rows genuinely exercise the restored tail: some user
      // has a full frame whose emission happened in tick 2 while the
      // frame START predates the cut
      val tick2Full = got.filter(col("ts") >= cut && col("w_n") === 3).count()
      assert(tick2Full > 0, "tick 2 should emit full frames (restored tails)")
    } finally events.unpersist()
  }

  test("transformWithState event-time timers close sessions across a tick boundary") {
    import ss.implicits._
    // The API surface flatMapGroupsWithState's coarse timeout callback
    // grew into: per-key EVENT-TIME TIMERS. Constructed events pin all
    // three closure paths of MicroBatch.SessionProcessor:
    //  - user 1 session A closes by DATA (a later in-batch event past
    //    the 30 min gap), session B by TIMER (watermark passes last+gap)
    //  - user 2's session SPANS the tick boundary (state + re-armed
    //    timer must survive the checkpoint), then closes by data
    //  - user 3's trailing event only advances the watermark; its own
    //    open session must be WITHHELD (timer not yet fireable)
    val src = dir("tws-sess-src")
    val cp = dir("tws-sess-cp")
    val sink = dir("tws-sess-sink")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // tick1's max ts stays at 01:25 so the tick-1 watermark (max − 1 h
    // = 00:25) is BEHIND u2's tick-2 continuation at 01:00 — otherwise
    // the continuation would be dropped as late, which is watermark
    // semantics working, not the timer path under test
    val tick1 = Seq(
      (1L, t("2024-01-01 00:00:00")), (1L, t("2024-01-01 00:10:00")), // u1 A
      (1L, t("2024-01-01 01:20:00")), (1L, t("2024-01-01 01:25:00")), // u1 B
      (2L, t("2024-01-01 00:50:00"))) // u2 opens
    val tick2 = Seq(
      (2L, t("2024-01-01 01:00:00")), // u2 continues within gap (merged)
      (2L, t("2024-01-01 06:00:00")), // closes u2's merged session by data
      (3L, t("2024-01-01 12:00:00"))) // watermark driver; u3 stays open
    val schemaFrom = tick1.toDF("user_id", "ts")
    val ssn = spark.newSession()
    ssn.conf.set("spark.sql.shuffle.partitions", "4")
    ssn.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def drain(): Unit = {
      val q = MicroBatch.sessionsV2(
        MicroBatch.readEvents(ssn, src, schemaFrom))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    tick1.toDF("user_id", "ts").write.mode("append").parquet(src)
    drain()
    tick2.toDF("user_id", "ts").write.mode("append").parquet(src)
    drain()
    val got = spark.read.parquet(sink)
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    val expected = Set(
      (1L, t("2024-01-01 00:00:00"), t("2024-01-01 00:10:00"), 2L), // data-closed
      (1L, t("2024-01-01 01:20:00"), t("2024-01-01 01:25:00"), 2L), // timer-closed
      (2L, t("2024-01-01 00:50:00"), t("2024-01-01 01:00:00"), 2L), // spans ticks
      (2L, t("2024-01-01 06:00:00"), t("2024-01-01 06:00:00"), 1L)) // timer-closed
    // u3's open session (last 12:00, deadline 12:30 > final watermark
    // 11:00) must be withheld
    assert(got == expected,
      s"sessions mismatch:\n got      $got\n expected $expected")
    // cross-check against the built-in session_window aggregate: every
    // emitted session must appear there with identical bounds + count
    val batch = (tick1 ++ tick2).toDF("user_id", "ts")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start"),
        (col("w.end").cast("long") - 30L * 60).cast("timestamp").as("last"),
        col("n"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    assert(got.subsetOf(batch),
      s"emitted sessions must agree with session_window:\n$got\nvs\n$batch")
    // an EMPTY tick (no new source files) must pass through the drain
    // unchanged: no crash, no extra emissions, state untouched
    drain()
    val afterEmpty = spark.read.parquet(sink)
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    assert(afterEmpty == expected, "an empty tick must not change the sink")
  }

  test("SessionProcessor carries MICROSECOND precision through state and bounds") {
    import ss.implicits._
    // Event timestamps in this engine are micro-grained; session bounds
    // must round-trip the sub-millisecond digits (getTime alone would
    // truncate: start .000100 would come back .000).
    val src = dir("tws-us-src")
    val cp = dir("tws-us-cp")
    val sink = dir("tws-us-sink")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val tick = Seq(
      (1L, t("2024-01-01 00:00:00.000100")),
      (1L, t("2024-01-01 00:00:00.000900")), // same millisecond, later micros
      (1L, t("2024-01-01 02:00:00.5")),      // closes session 1 by data
      (9L, t("2024-01-01 12:00:00")))        // watermark driver
    val schemaFrom = tick.toDF("user_id", "ts")
    val ssn = spark.newSession()
    ssn.conf.set("spark.sql.shuffle.partitions", "4")
    ssn.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    tick.toDF("user_id", "ts").write.mode("append").parquet(src)
    val q = MicroBatch.sessionsV2(MicroBatch.readEvents(ssn, src, schemaFrom))
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(sink)
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .collect().toSet
    val expected = Set(
      (1L, t("2024-01-01 00:00:00.000100"), t("2024-01-01 00:00:00.000900"), 2L),
      (1L, t("2024-01-01 02:00:00.5"), t("2024-01-01 02:00:00.5"), 1L))
    assert(got == expected, s"micros must survive: got $got")
    // helper round-trip at the extremes of the fractional second
    for (s <- Seq("2024-01-01 00:00:00.000001", "2024-01-01 23:59:59.999999",
      "1969-12-31 23:59:59.999999")) {
      val ts = t(s)
      assert(MicroBatch.microsTs(MicroBatch.tsMicros(ts)) == ts, s)
    }
  }

  test("dedup drain under the RocksDB state store matches the default provider exactly") {
    // The 100 TB answer for large keyed streaming state: the built-in
    // RocksDB provider (state lives on executor local disk + spillable
    // memtables instead of the JVM heap the default HDFSBacked provider
    // uses). Same backlog drained under BOTH providers — each on its own
    // cloned session with a fresh checkpoint — must admit the IDENTICAL
    // surviving key set, and the RocksDB run must prove the provider
    // actually managed the state: its checkpoint layout is
    // {version}.zip/.changelog snapshots where the default writes
    // {version}.delta files.
    val src = dir("rocks-src")
    val events = Tables.events(spark, sf).limit(500).cache()
    try {
      events.write.mode("overwrite").parquet(src)
      def drain(rocks: Boolean): (Set[(Long, String, java.sql.Timestamp)], String) = {
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        if (rocks) ss.conf.set(
          "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val cp = dir(if (rocks) "rocks-cp" else "hdfs-cp")
        val name = s"rocks_vs_default_${if (rocks) "r" else "h"}"
        val q = MicroBatch.dedupWithinWatermark(
          MicroBatch.readEvents(ss, src, events))
          .select("user_id", "event_type", "ts")
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val rows = ss.table(name).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSet
        (rows, cp)
      }
      def stateFiles(cp: String): Seq[String] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"$cp/state")).map(_.getName)
      }
      val (defRows, defCp) = drain(rocks = false)
      val (rocksRows, rocksCp) = drain(rocks = true)
      assert(rocksRows == defRows,
        s"providers must agree: rocks=${rocksRows.size} default=${defRows.size}")
      assert(defRows.nonEmpty, "empty drain would verify nothing")
      assert(stateFiles(defCp).exists(_.endsWith(".delta")),
        "sanity: the default HDFSBacked provider writes .delta state files")
      assert(stateFiles(rocksCp).exists(n =>
        n.endsWith(".zip") || n.endsWith(".changelog")),
        "the RocksDB provider must actually manage the state " +
          s"(saw: ${stateFiles(rocksCp).take(8).mkString(", ")})")
      assert(!stateFiles(rocksCp).exists(_.endsWith(".delta")),
        "a .delta file under the RocksDB checkpoint means the default provider ran")
    } finally events.unpersist()
  }

  test("near-dup drain under RocksDB matches the default provider signature set") {
    // The dedup-drain RocksDB proof above uses event keys; THIS is the
    // state that actually grows with corpus size — one entry per
    // distinct minhash signature in the watermark horizon — so the
    // large-state provider must be proven on it. Same backlog, both
    // providers, fresh checkpoints: the surviving signature sets must
    // be identical, and the RocksDB checkpoint must carry RocksDB
    // artifacts (zip/changelog), never the default's .delta files. The
    // second RocksDB drain from a fresh checkpoint re-derives the same
    // set — state from the first run must not leak across runs (the
    // bench-interference question: cross-run contention is allowed,
    // cross-run STATE is not).
    val src = dir("rocks-nd-src")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text")).cache()
    try {
      docs.write.mode("overwrite").parquet(src)
      def drain(rocks: Boolean, tag: String): (Set[Option[String]], String) = {
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        if (rocks) ss.conf.set(
          "spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val cp = dir(s"rocks-nd-cp-$tag")
        val name = s"rocks_nd_$tag"
        val stream = MicroBatch.readEvents(ss, src, docs)
          .select(col("doc_id"),
            graft.queries.Dedup.minhashSigCol(col("text")).as("sig"),
            timestamp_micros(col("doc_id") * 1000000L + lit(1704067200000000L)).as("ts"))
        val q = MicroBatch.neardupWithinWatermark(stream)
          .select("sig")
          .writeStream.format("memory").queryName(name)
          .outputMode("append")
          .option("checkpointLocation", cp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val rows = ss.table(name).collect()
          .map(r => Option(r.getString(0))).toSet
        (rows, cp)
      }
      def stateFiles(cp: String): Seq[String] = {
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
          else Seq(f)
        walk(new java.io.File(s"$cp/state")).map(_.getName)
      }
      val (defSigs, _) = drain(rocks = false, "h")
      val (rocksSigs, rocksCp) = drain(rocks = true, "r1")
      assert(rocksSigs == defSigs,
        s"providers must agree: rocks=${rocksSigs.size} default=${defSigs.size}")
      assert(defSigs.nonEmpty, "empty drain would verify nothing")
      assert(stateFiles(rocksCp).exists(n =>
        n.endsWith(".zip") || n.endsWith(".changelog")),
        "the RocksDB provider must actually manage the near-dup state " +
          s"(saw: ${stateFiles(rocksCp).take(8).mkString(", ")})")
      assert(!stateFiles(rocksCp).exists(_.endsWith(".delta")),
        "a .delta file under the RocksDB checkpoint means the default provider ran")
      val (rocksSigs2, _) = drain(rocks = true, "r2")
      assert(rocksSigs2 == rocksSigs,
        "a fresh-checkpoint re-drain must not see state from the previous run")
    } finally docs.unpersist()
  }

  test("MapState+TTL near-dup (v2) matches the watermark drain (v1) across a 2-tick RocksDB drain") {
    // The transformWithState port of the near-dup drain: MapState per
    // signature shard, native TTL for eviction. Same 2-tick backlog
    // through BOTH operators (fresh checkpoints, RocksDB provider —
    // required by the API and the large-state answer anyway): the
    // admitted signature sets must be identical, and the v2 state must
    // survive the checkpointed tick boundary (a tick-2 duplicate of a
    // tick-1 signature stays suppressed).
    val src = dir("nd2-src")
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .orderBy("doc_id").limit(200).cache()
    try {
      val n = docs.count()
      val tick1 = docs.filter(col("doc_id") < n / 2)
      val tick2 = docs.filter(col("doc_id") >= n / 2)
      def rocksSession() = {
        val ss = spark.newSession()
        ss.conf.set("spark.sql.shuffle.partitions", "8")
        ss.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        ss
      }
      def drainTicks(v2: Boolean): Set[String] = {
        val cp = dir(s"nd2-cp-${if (v2) "v2" else "v1"}")
        // foreachBatch sink: checkpoint-compatible across the tick
        // restarts (a memory sink is not) without the file sink's
        // per-batch re-analysis of the big minhash expression tree
        val admitted = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        // fresh src per variant so the file-source log starts clean
        val s2 = s"$src/${if (v2) "v2" else "v1"}"
        def tick(df: org.apache.spark.sql.DataFrame): Unit = {
          df.write.mode("append").parquet(s2)
          val ss = rocksSession()
          val projected = MicroBatch.readEvents(ss, s2, docs)
            .select(col("doc_id"),
              graft.queries.Dedup.minhashSigCol(col("text")).as("sig"),
              timestamp_micros(col("doc_id") * 1000000L + lit(1704067200000000L)).as("ts"))
          val out =
            if (v2) MicroBatch.neardupV2(projected, java.time.Duration.ofHours(24))
              .toDF("sig", "doc_id").select("sig")
            else MicroBatch.neardupWithinWatermark(projected).select("sig")
          // processing-time TWS loops empty batches under AvailableNow
          // (every batch schedules a follow-up); drainAvailable bounds
          // the drain at the first committed zero-input batch
          val q = out.writeStream
            .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              b.collect().foreach(r => if (!r.isNullAt(0)) admitted.add(r.getString(0)))
            }
            .option("checkpointLocation", cp)
            .outputMode("append")
            .start()
          MicroBatch.drainAvailable(q)
        }
        tick(tick1)
        tick(tick2)
        scala.jdk.CollectionConverters.CollectionHasAsScala(admitted).asScala.toSet
      }
      val v1Sigs = drainTicks(v2 = false)
      val v2Sigs = drainTicks(v2 = true)
      assert(v1Sigs.nonEmpty, "empty drain would verify nothing")
      assert(v2Sigs == v1Sigs,
        s"v1/v2 must admit the same signature set: v1=${v1Sigs.size} v2=${v2Sigs.size}")
    } finally docs.unpersist()
  }

  test("near-dup v2 TTL suppresses in-horizon duplicates and re-admits expired signatures") {
    import ss.implicits._
    // Synthetic signatures drive the TTL clock directly: tick 1 admits
    // sigA (doc 1; doc 2's duplicate is suppressed in-batch) and sigB;
    // tick 2, well inside the 20 s TTL, must suppress doc 4's sigA via
    // the CHECKPOINTED map state; after the TTL passes, tick 3's sigA
    // (doc 5) must be re-admitted — native TTL is the eviction path,
    // there is no watermark here.
    val src = dir("ttl-src")
    val cp = dir("ttl-cp")
    val sink = dir("ttl-sink")
    def t(s: Long) = new java.sql.Timestamp(1704067200000L + s * 1000)
    val schemaFrom = Seq((1L, "sigA", t(0))).toDF("doc_id", "sig", "ts")
    def drain(rows: Seq[(Long, String, java.sql.Timestamp)]): Unit = {
      rows.toDF("doc_id", "sig", "ts").write.mode("append").parquet(src)
      val ssn = spark.newSession()
      ssn.conf.set("spark.sql.shuffle.partitions", "4")
      ssn.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = MicroBatch.neardupV2(
        MicroBatch.readEvents(ssn, src, schemaFrom),
        java.time.Duration.ofSeconds(20))
        .toDF("sig", "doc_id")
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp)
        .outputMode("append")
        .start()
      MicroBatch.drainAvailable(q)
    }
    drain(Seq((1L, "sigA", t(0)), (2L, "sigA", t(1)), (3L, "sigB", t(2))))
    drain(Seq((4L, "sigA", t(100))))
    Thread.sleep(21000) // let the 20 s TTL lapse
    drain(Seq((5L, "sigA", t(200))))
    val admitted = spark.read.parquet(sink).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(admitted == Set(("sigA", 1L), ("sigB", 3L), ("sigA", 5L)),
      s"TTL semantics broken; admitted = $admitted")
  }

  test("streaming near-dup stats make a planted skewed tick visible") {
    import ss.implicits._
    // The batch dedup family measures its hot buckets (q_dd_cap_audit);
    // this is the streaming drain's equivalent: NearDupStats counters
    // must expose (a) the dedup decisions and (b) signature-space skew
    // concentrating on one shard. Plant a tick with 20 DISTINCT
    // signatures all hashing to one shard (the hot shard), one
    // signature repeated 30x (29 in-batch suppressions), and 5
    // scattered singletons on other shards.
    def shardOf(sig: String): Int =
      math.floorMod(sig.hashCode, graft.streaming.MicroBatch.NearDupShards)
    val hotShard = 7
    val hotShardSigs = Iterator.from(0).map(i => s"sig_$i")
      .filter(s => shardOf(s) == hotShard).take(20).toSeq
    val dupSig = Iterator.from(0).map(i => s"dup_$i")
      .filter(s => shardOf(s) != hotShard).next()
    val scattered = Iterator.from(0).map(i => s"sc_$i")
      .filter(s => shardOf(s) != hotShard && shardOf(s) != shardOf(dupSig))
      .map(s => (s, shardOf(s)))
      .scanLeft((Set.empty[Int], Option.empty[String])) {
        case ((seen, _), (s, sh)) =>
          if (seen(sh)) (seen, None) else (seen + sh, Some(s))
      }.flatMap(_._2).take(5).toSeq // 5 sigs on 5 DISTINCT other shards
    def t(s: Long) = new java.sql.Timestamp(1704067200000L + s * 1000)
    val rows = hotShardSigs.zipWithIndex.map { case (s, i) => (i.toLong, s, t(i.toLong)) } ++
      (0 until 30).map(i => (100L + i, dupSig, t(50L + i))) ++
      scattered.zipWithIndex.map { case (s, i) => (200L + i, s, t(90L + i)) }

    val src = dir("ndstats-src")
    val cp = dir("ndstats-cp")
    val sink = dir("ndstats-sink")
    rows.toDF("doc_id", "sig", "ts").write.mode("append").parquet(src)
    val ssn = spark.newSession()
    ssn.conf.set("spark.sql.shuffle.partitions", "4")
    ssn.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stats = MicroBatch.NearDupStats(ssn.sparkContext)
    val q = MicroBatch.neardupV2(
      MicroBatch.readEvents(ssn, src,
        Seq((1L, "x", t(0))).toDF("doc_id", "sig", "ts")),
      java.time.Duration.ofHours(24), Some(stats))
      .toDF("sig", "doc_id")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", cp)
      .outputMode("append")
      .start()
    MicroBatch.drainAvailable(q)

    assert(stats.admitted.value === 26L) // 20 hot-shard + 1 dup + 5 scattered
    assert(stats.suppressed.value === 29L) // the dup signature's repeats
    assert(stats.maxShardAdmits === 20L, // the hot shard stands out
      s"shard admits: ${stats.shardAdmits.value}")
    // and the sink carries exactly the admitted rows (stats are a
    // side-channel, never a semantics change)
    assert(spark.read.parquet(sink).count() === 26L)
  }

  test("transformWithState restores a checkpoint under an EVOLVED state schema (avro)") {
    import ss.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // The headline transformWithState feature: restart from an existing
    // checkpoint with an evolved state encoder. Tick 1 writes state as
    // RunningStats(n, sumCents); tick 2 resumes the SAME checkpoint with
    // RunningStatsV2(n, sumCents, maxCents) — Avro state encoding fills
    // the added field with its zero default on restore. The emitted
    // anomaly set across both ticks must equal the single-pass batch
    // twin: equality is only possible if tick-1 state was actually
    // restored (a reset would change every user's priors), and the
    // drain completing at all proves the evolved schema was accepted.
    val src = dir("evo-src")
    val cp = dir("evo-cp")
    val sink = dir("evo-sink")
    val events = Tables.events(spark, sf).limit(2000).cache()
    try {
      val n = events.count().toInt
      val cutTs = events.select("ts").orderBy("ts").collect()(n / 2).getTimestamp(0)
      // strict cut: per user every tick-1 ts precedes every tick-2 ts,
      // so the 2-tick fold equals the batch fold
      val tick1 = events.filter(col("ts") < lit(cutTs))
      val tick2 = events.filter(col("ts") >= lit(cutTs))
      def drain(evolved: Boolean, tick: org.apache.spark.sql.DataFrame): Unit = {
        tick.write.mode("append").parquet(src)
        val ssn = spark.newSession()
        ssn.conf.set("spark.sql.shuffle.partitions", "4")
        ssn.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        ssn.conf.set("spark.sql.streaming.stateStore.encodingFormat", "avro")
        import ssn.implicits._
        val keyed = MicroBatch.readEvents(ssn, src, events)
          .selectExpr("user_id", "ts", "value")
          .as[(Long, java.sql.Timestamp, Double)]
          .groupByKey(_._1)
        val out =
          if (evolved) keyed.transformWithState(
            new AnomalyProcessorEvolved(3.0, 10), TimeMode.None(), OutputMode.Append())
          else keyed.transformWithState(
            new MicroBatch.AnomalyProcessor(3.0, 10), TimeMode.None(), OutputMode.Append())
        val q = out.writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", cp)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      drain(evolved = false, tick1)
      drain(evolved = true, tick2) // restart: same checkpoint, evolved encoder
      val got = spark.read.parquet(sink)
        .as[(Long, java.sql.Timestamp, Double, Double)].collect().toSet
      val twin = MicroBatch.anomalies(events).collect()
        .map(a => (a.user_id, a.ts, a.value, a.mean_before)).toSet
      assert(got.nonEmpty, "no anomalies emitted — the proof would be vacuous")
      assert(got == twin,
        s"evolved restart must preserve semantics: got=${got.size} twin=${twin.size}")
    } finally events.unpersist()
  }

  test("CEP pattern drain: negation waits for the watermark, matches span ticks, tail withheld") {
    import ss.implicits._
    val root = dir("cep-root")
    val src = s"$root/events.parquet" // Tables.events-compatible layout
    val cp = dir("cep-cp")
    val sink = dir("cep-sink")
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    def row(id: Long, uid: Long, et: String, ts: String) =
      (id, t(ts), uid, et, 0.0, "{}")
    // u1: clean direct conversion (view 10 -> purchase 11)
    // u2: click 21 between view 20 and purchase 22 -> NO match
    // u3: the negation trap — tick1 ends with view 30 then purchase 31
    //     looking like a match; tick2 lands click 32 BETWEEN them
    //     (event-time), still admissible because tick1's watermark
    //     (02:30 − 1 h) is behind it. Eager emission would be wrong;
    //     the buffered decision must kill the match.
    // u4: view 40 whose decision point (04:50 + 1 h) is past the final
    //     watermark (max 06:40 − 1 h = 05:40) -> withheld
    // u5: purchase 51 at view 50 + exactly 1 h -> inside the closed
    //     window boundary, must match
    val tick1 = Seq(
      row(10, 1, "view", "2024-01-01 01:00:00"),
      row(11, 1, "purchase", "2024-01-01 01:30:00"),
      row(20, 2, "view", "2024-01-01 01:00:00"),
      row(21, 2, "click", "2024-01-01 01:10:00"),
      row(22, 2, "purchase", "2024-01-01 01:20:00"),
      row(30, 3, "view", "2024-01-01 02:00:00"),
      row(31, 3, "purchase", "2024-01-01 02:30:00"))
    val tick2 = Seq(
      row(32, 3, "click", "2024-01-01 02:10:00"), // between 30 and 31
      row(40, 4, "view", "2024-01-01 04:50:00"),
      row(50, 5, "view", "2024-01-01 04:30:00"),
      row(51, 5, "purchase", "2024-01-01 05:30:00"), // +1 h exactly; dp 05:30 < wm 05:40
      row(60, 6, "view", "2024-01-01 06:40:00")) // watermark driver
    val schemaFrom = tick1
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ssn = spark.newSession()
    ssn.conf.set("spark.sql.shuffle.partitions", "4")
    ssn.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def drain(): Unit = {
      val q = MicroBatch.patternV2(MicroBatch.readEvents(ssn, src, schemaFrom))
        .writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    tick1.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(src)
    drain()
    // after tick1 the watermark is 01:30: NOTHING is decided yet (u1's
    // decision point 01:30.000 is not strictly behind it at ms grain)
    val afterTick1 = spark.read.parquet(sink).count()
    assert(afterTick1 === 0L, s"tick-1 emitted $afterTick1 rows before the watermark allowed")
    tick2.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(src)
    drain()
    val got = spark.read.parquet(sink)
      .select("user_id", "view_id", "purchase_id", "gap_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      (1L, 10L, 11L, 1800L * 1000000L), // clean conversion
      (5L, 50L, 51L, 3600L * 1000000L)) // purchase at +1 h exactly: in-window
    // u2 killed by the in-tick click; u3 killed by the CROSS-TICK click
    // (the eager-emission trap); u4 withheld past the final watermark;
    // u6 has no purchase
    assert(got === expected, s"got $got")
    // the streaming verdicts agree with the batch operator on the
    // decided prefix (dp < final watermark 05:40)
    val batch = graft.queries.Analytics.pattern(spark, root).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("view_id"),
        r.getAs[Long]("purchase_id")))
      .toSet
    assert(got.map(x => (x._1, x._2, x._3)).subsetOf(batch),
      "every streamed match must be a batch match")
  }

  /** Run-scoped checkpoints under a drain root: `cp_*` directories. */
  private def checkpoints(root: String): Set[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("cp_")).map(_.getName).toSet

  test("a memory-sink drain run twice gives equal results and leaves no checkpoint") {
    val root = graft.queries.Parity.tmpRoot("stream", sf)
    val before = checkpoints(root)
    def run() = SparkEntry.queries("q_st_windowed")(spark, sf).collect().toSeq
    val first = run()
    val second = run()
    assert(first.nonEmpty)
    assert(first === second)
    val left = checkpoints(root) -- before
    assert(left.isEmpty, s"drain checkpoints left under $root: ${left.mkString(", ")}")
  }

  test("a drain's result reads checkpointed batches, never a driver-side sink") {
    import org.apache.spark.sql.execution.LogicalRDD
    val out = SparkEntry.queries("q_st_static_join")(spark, sf)
    val leaves = out.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD]),
      s"leaves: ${leaves.map(_.nodeName).mkString(", ")}")
    assert(out.count() > 0)
  }

  test("a drain over an empty landing returns no rows with the stream's schema") {
    val events = Tables.events(spark, sf)
    val src = dir("empty-src")
    def stream(s: org.apache.spark.sql.SparkSession) =
      MicroBatch.readEvents(s, src, events).select("event_id", "user_id", "ts")
    val out = MicroBatch.drainToMemory(spark, dir("empty-root"))(stream)
    assert(out.schema === stream(spark).schema)
    assert(out.count() === 0L)
  }

  test("a multi-batch drain returns each batch's rows exactly once") {
    val events = Tables.events(spark, sf)
    val src = dir("multi-src")
    val files = 3
    events.repartition(files).write.mode("overwrite").parquet(src)
    val out = MicroBatch.drainToMemory(spark, dir("multi-root")) { ss =>
      MicroBatch.readEvents(ss, src, events, Some(1)).select("event_id")
    }
    // one checkpointed scan per micro-batch, one micro-batch per file
    assert(out.queryExecution.analyzed.collectLeaves().size === files)
    assert(out.orderBy("event_id").collect().toSeq ===
      events.select("event_id").orderBy("event_id").collect().toSeq)
  }

  test("drains derive their state store and trigger from the plan") {
    // transformWithState needs RocksDB; the v2 anomaly drain must equal
    // its flatMapGroupsWithState batch twin
    val roots = Seq("stream_tws", "stream_nd").map(graft.queries.Parity.tmpRoot(_, sf))
    val before = roots.map(checkpoints)
    def rows(q: String) = SparkEntry.queries(q)(spark, sf).collect().toSeq
    assert(rows("q_st_anomaly_v2") === rows("q_st_anomaly"))
    // processing-time TTL never ends under AvailableNow: the v2 near-dup
    // drain must finish and admit the v1 signature set
    assert(rows("q_st_neardup_v2") === rows("q_st_neardup"))
    roots.zip(before).foreach { case (root, b) =>
      assert((checkpoints(root) -- b).isEmpty, s"checkpoints left under $root")
    }
  }
}

/** Evolved state for the schema-evolution restart proof: adds a running
  * max (cents) to [[MicroBatch.RunningStats]]'s (n, sumCents); the Avro
  * state encoder fills it with the zero default when restoring
  * pre-evolution checkpointed values. Fold semantics are unchanged, so
  * the emitted anomalies stay hash-equal to the batch twin. */
case class RunningStatsV2(n: Long, sumCents: Long, maxCents: Long)

class AnomalyProcessorEvolved(factor: Double, minN: Long)
  extends org.apache.spark.sql.streaming.StatefulProcessor[
    Long, (Long, java.sql.Timestamp, Double), MicroBatch.Anomaly] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}

  @transient private var st: ValueState[RunningStatsV2] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[RunningStatsV2]("running",
      org.apache.spark.sql.Encoders.product[RunningStatsV2], TTLConfig.NONE)

  override def handleInputRows(uid: Long,
      rows: Iterator[(Long, java.sql.Timestamp, Double)],
      timerValues: TimerValues): Iterator[MicroBatch.Anomaly] = {
    var s = if (st.exists()) st.get() else RunningStatsV2(0L, 0L, 0L)
    val out = scala.collection.mutable.ArrayBuffer[MicroBatch.Anomaly]()
    rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3)).foreach { case (_, ts, v) =>
      def mean = s.sumCents.toDouble / 100.0 / s.n
      if (s.n >= minN && v > factor * mean)
        out += MicroBatch.Anomaly(uid, ts, v, mean)
      val cents = math.round(v * 100)
      s = RunningStatsV2(s.n + 1, s.sumCents + cents, math.max(s.maxCents, cents))
    }
    st.update(s)
    out.iterator
  }
}
