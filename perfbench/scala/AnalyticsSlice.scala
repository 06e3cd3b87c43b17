package perfbench

import org.apache.spark.sql.SparkSession

import graft.queries._

/** `analytics_slice`: a warm pass, then timed passes over one
  * `SparkEntry.queries` member per query module, each forced with
  * `count()`, in a seeded order per pass. Row counts are checked against a
  * DuckDB run of the same queries' `SparkEntry.oracleSql` after the JVM
  * exits. */
object AnalyticsSlice {
  /** (module, query). One query per module in `graft.queries`. */
  val Slice: Seq[(String, String)] = Seq(
    "Subqueries" -> "q_tpch_q6",
    "Relational" -> "q_f1_flagship_page",
    "Analytics" -> "q_ag_anova",
    "TextAnalysis" -> "q_tx_fingerprint",
    "Dedup" -> "q_dd_exact",
    "Similarity" -> "q_sim_linear_probe",
    "Graph" -> "q_gr_scc",
    "Temporal" -> "q_t1_asof_join",
    "Discovery" -> "q_ds_kanon",
    "Sampling" -> "q_sm_stratified",
    "TrainPrep" -> "q_tp_pack",
    "LayoutQueries" -> "q_ly_zorder",
    "Parity" -> "q_st_static_join")

  /** The slice members the streaming layer runs (drain-backed, or the REST
    * ingest stream). */
  val Streaming: Set[String] = Parity.drainBackedQueries + "q_st_rest_ingest"

  private val modules: Map[String, Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame]] =
    Map("Subqueries" -> Subqueries.all, "Relational" -> Relational.all,
      "Analytics" -> Analytics.all, "TextAnalysis" -> TextAnalysis.all,
      "Dedup" -> Dedup.all, "Similarity" -> Similarity.all, "Graph" -> Graph.all,
      "Temporal" -> Temporal.all, "Discovery" -> Discovery.all,
      "Sampling" -> Sampling.all, "TrainPrep" -> TrainPrep.all,
      "LayoutQueries" -> LayoutQueries.all, "Parity" -> Parity.all)

  /** Fails loudly if a slice member left its module or `SparkEntry`. */
  def checkSlice(): Unit = Slice.foreach { case (m, q) =>
    require(modules(m).contains(q) && graft.SparkEntry.queries.contains(q) &&
      graft.SparkEntry.oracleSql.contains(q), s"slice member $m.$q is not a query with an oracle")
  }

  def oracles: Seq[Map[String, Any]] = Slice.map { case (m, q) =>
    Map("module" -> m, "query" -> q, "sql" -> graft.SparkEntry.oracleSql(q),
      "streaming" -> Streaming.contains(q))
  }

  private def runQuery(spark: SparkSession, ctx: Main.Ctx, q: String): Long = {
    try graft.SparkEntry.queries(q)(spark, ctx.data).count()
    finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def run(spark: SparkSession, ctx: Main.Ctx): Map[String, Any] = {
    checkSlice()
    val t = System.nanoTime()
    val warmMs = scala.collection.mutable.LinkedHashMap[String, Double]()
    val warm = Slice.map { case (_, q) =>
      val t1 = Clock.nowMs
      val n = runQuery(spark, ctx, q)
      warmMs(q) = Clock.nowMs - t1
      q -> n
    }.toMap
    val warmS = (System.nanoTime() - t) / 1e9
    val rnd = new scala.util.Random(ctx.seed)
    val ops = Seq.newBuilder[Map[String, Any]]
    val deadline = Clock.nowMs + ctx.seconds * 1000
    var pass = 0
    var id = 0L
    var pairs = 0L
    var passMs = 0.0
    // Whole passes that fit before the deadline, at least two: the JIT is
    // still warming after the warm pass (a second pass reads about 10 %
    // faster), so on a slow host a run of one pass would read slower still.
    // A traced run runs each query twice in a row, traced and untraced, and
    // needs only one pass.
    val minPasses = if (ctx.trace) 1 else 2
    while (pass < minPasses || Clock.nowMs + passMs <= deadline) {
      val passStart = Clock.nowMs
      pass += 1
      rnd.shuffle(Slice).foreach { case (m, q) =>
        def one(traced: Boolean, pair: Long): Map[String, Any] = {
          id += 1
          val opId = id
          val start = Clock.nowMs
          val (n, err) =
            try (Trace.span("query", 0L, opId) { sid =>
              Trace.span(s"queries.$q", sid, opId)(_ => runQuery(spark, ctx, q))
            }, None)
            catch { case e: Exception => (-1L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
          Map("id" -> opId, "kind" -> "query", "query" -> q, "module" -> m, "pass" -> pass,
            "start" -> start, "end" -> Clock.nowMs, "due" -> start, "count" -> n,
            "ok" -> err.isEmpty, "err" -> err.getOrElse(""), "traced" -> traced,
            "pair" -> pair, "warm_count" -> warm(q))
        }
        if (ctx.trace) {
          pairs += 1
          val p = pairs
          ops ++= Main.pair(spark, p)(on => one(on, p))
        } else ops += one(traced = false, 0L)
      }
      passMs = Clock.nowMs - passStart
    }
    Map("ops" -> ops.result(), "stage_s" -> Seq(warmS), "oracles" -> oracles,
      "counters" -> Map("passes" -> pass, "warm_ms" -> warmMs))
  }
}
