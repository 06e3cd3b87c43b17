package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main — two JSON lines: first the full per-query wall
  * times, then a compact ≤200-byte total line (the driver reads a
  * bounded stdout tail, so the LAST line must always fit; the full
  * detail is also written to bench_detail.json).
  * local[32] / shuffle.partitions=32 per the driver environment; each
  * query is forced with count() (full execution, no result transfer).
  * Both lines carry `calib_ms` (see [[calibMs]]) and the `cpus` the
  * session ran with, so totals from different hosts can be read
  * against each other.
  * A failed query reports wall time -1.0 and lands in an "errors" map —
  * never a normal-looking timing — and is excluded from the total.
  */
object Bench {
  /** Median of five runs of a fixed xorshift loop, in ms — the same loop
    * as perfbench's `host.calib_ms`. Wall times from two hosts (or two
    * phases of one shared host) compare only through this figure. */
  def calibMs(): Double = {
    val reps = (1 to 5).map { _ =>
      val t = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("")
      (System.nanoTime() - t) / 1e6
    }.sorted
    reps(2)
  }

  /** Classes Janino has compiled in this JVM so far (one histogram entry
    * per compile, whoever triggered it). */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val calib = calibMs()
    val spark = Sessions.local(cpus, "graft-bench")
    spark.sparkContext.setLogLevel("WARN")
    // Shuffle-partition stress rehearsal (SCALE.md): a plan that only
    // works because 32 partitions fit one executor wave shows up when
    // the same queries run at 256 — runtime conf, so the override
    // composes with the standard session construction.
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .foreach(n => spark.conf.set("spark.sql.shuffle.partitions", n))
    // Warm the JVM/codegen/FS-cache once so the alphabetically-first query
    // doesn't absorb session startup; standard bench hygiene, not a skip.
    Tables.all.foreach(t => Tables.load(spark, sfDir, t).count())
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Best-of-N per query with N full INTERLEAVED passes: the shared host
    // shows multi-minute degradation phases (2-4x slower wall time), so
    // back-to-back repeats of one query land in the same phase — passes
    // over the whole suite decorrelate, and min-of-passes estimates the
    // repeatable cost (the noise is strictly additive).
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // Optional comma-separated allowlist for targeted re-measurement of
    // individual queries (regression triage); absent → full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val times = scala.collection.mutable.Map[String, Double]()
    // Per-query SHUFFLE/SPILL telemetry: plan grading for a 100x
    // scale-up needs "no avoidable shuffle" to be measurable, not
    // qualitative. A session QueryExecutionListener walks each executed
    // plan (through AQE wrappers and query stages) and sums the
    // shuffleBytesWritten / spillSize SQLMetrics; per pass the delta of
    // those global accumulators attributes bytes to the query,
    // including its driver-side training actions. Streaming drains run
    // on cloned sessions (their own listener scope) so their rows read
    // ~0 here — the relational plans are what this measures.
    val telemetrySeq = new java.util.concurrent.atomic.AtomicLong(0)
    val shuffleAcc = new java.util.concurrent.atomic.AtomicLong(0)
    val spillAcc = new java.util.concurrent.atomic.AtomicLong(0)
    // PLAN FINGERPRINT per query: counts of join/exchange operator
    // classes plus a hash of each scan's pushed filters and read
    // schema, summed over every action in the query's window. Wall
    // time is host-jitter-prone and shuffle bytes can stay flat while
    // a pushdown is lost — the fingerprint is the deterministic
    // signal that catches a silent broadcast→SMJ demotion or a scan
    // that started reading extra columns, and it makes time-only
    // bench-gate trips mechanically adjudicable (identical fingerprint
    // ⇒ host/GC, different ⇒ plan change). bench_gate.py diffs these
    // against the pins in tools/plan_fingerprints.json.
    val fpAcc = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    def fpAdd(sig: String): Unit =
      fpAcc.computeIfAbsent(sig,
        _ => new java.util.concurrent.atomic.AtomicLong(0)).incrementAndGet()
    def fpSnapshot(): Map[String, Long] = {
      val it = fpAcc.entrySet().iterator()
      val b = Map.newBuilder[String, Long]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.get() }
      b.result()
    }
    def fpDelta(before: Map[String, Long]): String =
      fpSnapshot().flatMap { case (k, v) =>
        val d = v - before.getOrElse(k, 0L)
        if (d > 0) Some(s"$k=$d") else None
      }.toSeq.sorted.mkString(";")
    def md5_8(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
    def fpNodeSigs(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      val name = p.getClass.getSimpleName
      if (name.contains("Join") || name.contains("Exchange")) fpAdd(name)
      p match {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          // pushed filters + read schema: the pruning surface. Hashed —
          // the strings are long and may change legitimately per query
          // edit; equality is all the gate needs. (Location paths are
          // NOT included: staged substrates carry run-varying tmp dirs.)
          // Expression ids (`#123`, `scalar-subquery#45`) are stripped
          // first: they grow monotonically per JVM, so a pushed filter
          // referencing a subquery result (tpch q22's acctbal > avg)
          // hashed differently EVERY pass and read as plan volatility
          // when the plan was byte-identical modulo ids.
          def noIds(s: String): String = s.replaceAll("#\\d+", "#")
          fpAdd(s"Scan[pushed:${md5_8(noIds(f.metadata.getOrElse("PushedFilters", "")))}" +
            s",schema:${md5_8(noIds(f.metadata.getOrElse("ReadSchema", "")))}]")
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec =>
          // partial-vs-final matters: a lost map-side combine (Partial
          // disappearing) multiplies exchange volume at 100x while the
          // operator count stays flat — make the MODE part of the sig
          val modes = a.aggregateExpressions.map(_.mode.toString)
            .distinct.sorted.mkString("+")
          fpAdd(s"$name[${if (modes.isEmpty) "distinct" else modes}]")
        case s: org.apache.spark.sql.execution.SortExec =>
          // a TakeOrderedAndProject demotion shows up as a NEW global
          // sort — global vs local is the load-bearing bit
          fpAdd(s"SortExec[${if (s.global) "global" else "local"}]")
        case _ =>
          // Window / Generate (explode) / Limit placement (Local vs
          // Global vs CollectLimit vs TakeOrderedAndProject): count by
          // class name — a demotion changes which classes appear
          if (name.contains("Window") || name.contains("Generate") ||
            name.contains("Limit") || name.contains("TakeOrdered")) fpAdd(name)
      }
    }
    def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
    : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val inner = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => Nil
      }
      p +: (p.children ++ inner).flatMap(planNodes)
    }
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = {
        val nodes = planNodes(qe.executedPlan)
        shuffleAcc.addAndGet(
          nodes.flatMap(_.metrics.get("shuffleBytesWritten")).map(_.value).sum)
        spillAcc.addAndGet(
          nodes.flatMap(_.metrics.get("spillSize")).map(m => math.max(0L, m.value)).sum)
        nodes.foreach(fpNodeSigs)
        telemetrySeq.incrementAndGet()
      }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        telemetrySeq.incrementAndGet()
    })
    // listener events post asynchronously; wait (bounded) until the
    // event stream is quiet before reading the per-pass delta
    def quiesce(): Unit = {
      var prev = -1L
      var stable = 0
      val deadline = System.nanoTime() + 2000000000L
      while (stable < 2 && System.nanoTime() < deadline) {
        val cur = telemetrySeq.get()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
        Thread.sleep(10)
      }
    }
    val shuffleBytes = scala.collection.mutable.Map[String, Long]()
    val spillBytes = scala.collection.mutable.Map[String, Long]()
    // Generated classes each query compiled on its LAST pass: after the
    // warm pass a query whose classes stayed in Spark's codegen cache
    // compiles 0, so a nonzero count is an evicted cache or a plan that
    // generates new source per run (JVM-unique names, inlined literals).
    // A counter read, no job.
    val compileCounts = scala.collection.mutable.Map[String, Long]()
    // every successful pass's wall time, for the per-query MEAN emitted
    // next to best-of-N in bench_detail.json: with host-variance phases
    // dominating round-over-round deltas, (best, mean) together make a
    // regression attributable without re-running — a plan regression
    // moves BOTH, a noise phase moves only the mean.
    val passes = scala.collection.mutable.Map[String, List[Double]]()
    // Warm pass 0, UNCOUNTED: each query once before measurement, so
    // every measured pass runs against JIT-compiled codegen and staged
    // substrates. Without it, pass 1 systematically carries compilation
    // + staging cost and best-of-N degrades to best-of-(N−1) — the r13
    // driver-vs-snapshot wall jitter was dominated by exactly this
    // (byte-identical shuffles, time-only trips). Disable with
    // SPARK_GRAFT_BENCH_WARM=0 for quick targeted re-measures.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM", "1") == "1")
      for ((_, fn) <- queries) {
        try { fn(spark, sfDir).count(); () } catch { case _: Throwable => () }
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      }
    quiesce() // don't let warm-pass listener events bleed into pass 1
    shuffleAcc.set(0L); spillAcc.set(0L)
    val planFp = scala.collection.mutable.Map[String, String]()
    val fpSeen = scala.collection.mutable.Map[String, Set[String]]()
    for (_ <- 1 to runs; (name, fn) <- queries) {
      val shuffle0 = shuffleAcc.get()
      val spill0 = spillAcc.get()
      val fp0 = fpSnapshot()
      val compiles0 = compiles()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        quiesce()
        compileCounts(name) = compiles() - compiles0
        val fp = fpDelta(fp0)
        // distinct fingerprints across passes mark the query as
        // plan-VOLATILE (AQE near-threshold flips) — the gate skips
        // fingerprint equality for those instead of false-failing
        fpSeen(name) = fpSeen.getOrElse(name, Set.empty) + fp
        if (dt < times.getOrElse(name, Double.MaxValue)) {
          // telemetry rides the BEST pass (bytes are plan-determined and
          // pass-stable; the best pass is the one the total reports)
          shuffleBytes(name) = shuffleAcc.get() - shuffle0
          spillBytes(name) = spillAcc.get() - spill0
          planFp(name) = fp
        }
        times(name) = math.min(times.getOrElse(name, Double.MaxValue), dt)
        passes(name) = dt :: passes.getOrElse(name, Nil)
        // a query that failed one pass but succeeded another is healthy:
        // keep its timing, drop the stale error (error ⇒ zero passes ran)
        errors.remove(name)
      } catch { case t: Throwable =>
        if (!times.contains(name)) errors.getOrElseUpdate(name,
          s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(120)}")
      }
      // Drop blocks pinned by finished queries (localCheckpoint stages in
      // the dedup family persist until GC otherwise): 134 query runs of
      // leaked blocks create memory pressure that skews later timings.
      // Safe here — a completed query's plan is never re-executed.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val results = queries.map { case (name, _) =>
      name -> times.getOrElse(name, -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    val qsMean = queries.map { case (name, _) =>
      val ps = passes.getOrElse(name, Nil)
      val mean = if (ps.isEmpty) -1.0 else ps.sum / ps.size
      "\"" + name + f"""\":$mean%.3f"""
    }.mkString("{", ",", "}")
    // Targeted (BENCH_ONLY) triage runs additionally emit EVERY pass's
    // wall time in run order — best/mean can't distinguish a bimodal
    // cost (two clusters) from ordinary jitter, and bimodality needs
    // different handling (never min-merge retries). Full runs stay
    // compact.
    val qsPasses = if (only.isEmpty) "" else {
      val m = queries.map { case (name, _) =>
        "\"" + name + "\":" + passes.getOrElse(name, Nil).reverse
          .map(t => f"$t%.3f").mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      s""","queries_passes":$m"""
    }
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ") + "\""
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Streaming drains pay a fixed AvailableNow cost (fresh checkpoint +
    // state store per run) that is real verification work but not
    // relational plan cost — reported separately so a relational
    // regression can't hide under it (and vice versa). Membership is the
    // explicit drain-backed set, not the q_st_ name prefix: q_st_anomaly
    // is the batch twin and belongs in the relational side.
    val drains = graft.queries.Parity.drainBackedQueries
    val streamingTotal =
      results.collect { case (n, v) if drains.contains(n) && v >= 0 => v }.sum
    val qsShuffle = queries.map { case (name, _) =>
      "\"" + name + "\":" + shuffleBytes.getOrElse(name, -1L)
    }.mkString("{", ",", "}")
    val qsSpill = queries.map { case (name, _) =>
      "\"" + name + "\":" + spillBytes.getOrElse(name, -1L)
    }.mkString("{", ",", "}")
    val qsCompiles = queries.map { case (name, _) =>
      "\"" + name + "\":" + compileCounts.getOrElse(name, -1L)
    }.mkString("{", ",", "}")
    val qsFp = queries.flatMap { case (name, _) =>
      planFp.get(name).map(fp => s"${jstr(name)}:${jstr(fp)}")
    }.mkString("{", ",", "}")
    val fpVolatile = queries.collect {
      case (name, _) if fpSeen.getOrElse(name, Set.empty).size > 1 => jstr(name)
    }.mkString("[", ",", "]")
    // For each volatile query, the DISTINCT fingerprints observed across
    // passes — the raw evidence for adjudicating an AQE flip (which two
    // physical states, which operator differs) without re-running.
    val qsFpStates = queries.flatMap { case (name, _) =>
      val seen = fpSeen.getOrElse(name, Set.empty)
      if (seen.size > 1)
        Some(s"${jstr(name)}:${seen.toSeq.sorted.map(jstr).mkString("[", ",", "]")}")
      else None
    }.mkString("{", ",", "}")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","streaming_total":$streamingTotal%.3f,"calib_ms":$calib%.1f,"cpus":$cpus,"n_runs":$runs,"queries":$qs,"queries_mean":$qsMean$qsPasses,"shuffle_bytes":$qsShuffle,"spill_bytes":$qsSpill,"compiles":$qsCompiles,"plan_fp":$qsFp,"plan_fp_volatile":$fpVolatile,"plan_fp_states":$qsFpStates,"errors":$errJson,"sf":"$sfDir"}"""
    println(fullLine)
    // The per-query line grew past the driver's stdout tail window at 79
    // queries (round 3's BENCH parsed:null), so the LAST line is a compact
    // summary (≤200 bytes — always fits any tail window): total + error
    // count + per-error names survive even if the detail line is clipped.
    // Full per-query detail also lands in bench_detail.json for the judge —
    // FULL runs only: a targeted re-measure (BENCH_ONLY) must never
    // clobber the committed full-suite snapshot (it did once — a
    // 1-query detail file shipped as the round snapshot), so triage
    // runs write a sibling file instead.
    val detailFile =
      if (only.isEmpty) "bench_detail.json" else "bench_detail_targeted.json"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(detailFile), fullLine + "\n")
    catch { case _: Throwable => () } // detail file is best-effort
    // cap the compact line's error payload (first 2 names, 40-char
    // messages) and ENFORCE the byte bound: escaping happens after the
    // take, so a quote/backslash-heavy message can still double in
    // size — if the assembled line exceeds the tail-window budget, drop
    // the error payload entirely (n_errors always carries the truth and
    // the full messages live in the detail line + bench_detail.json).
    def compactLine(errJson: String): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","streaming_total":$streamingTotal%.3f,"calib_ms":$calib%.1f,"cpus":$cpus,"n_queries":${results.size},"n_errors":${errors.size},"errors":$errJson,"sf":"$sfDir"}"""
    val errCompact = errors.take(2)
      .map { case (k, v) => s"${jstr(k.take(24))}:${jstr(v.take(40))}" }
      .mkString("{", ",", "}")
    val withErrs = compactLine(errCompact)
    println(if (withErrs.length <= 200) withErrs else compactLine("{}"))
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
