package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** OLAP analytics beyond the reference surface: multi-dimensional
  * aggregation (ROLLUP / CUBE / GROUPING SETS), exact percentiles, pivot
  * (wide conditional aggregation), sketch cardinality, and semi-join.
  *
  * Scale notes: rollup/cube expand each input row into its grouping-set
  * combinations before one hash aggregation — same single shuffle as a
  * plain groupBy (cost × #sets, bounded here at 3–4). Percentiles use
  * Spark's exact `percentile` (sort-based within groups); at 100 TB the
  * swap is `approx_percentile` (t-digest) — demonstrated without an
  * oracle in [[approxDistinct]]'s sketch family. Money sums go through
  * DECIMAL(18,2) like Relational's, so parallel summation order can't
  * move bits.
  */
object Analytics {

  private def dec(c: String) = col(c).cast("decimal(18,2)")

  // --- q_ag_histogram -----------------------------------------------------
  // Fixed-width numeric histogram of lineitem extended prices — the
  // distribution profile behind pricing dashboards and outlier screens.
  // Buckets are explicit floor() divisions — a bare double->BIGINT cast
  // TRUNCATES in Spark but ROUNDS in DuckDB, so the cast form silently
  // shifts bucket boundaries between engines (caught by the oracle);
  // one map-side-combinable aggregation, bucket count
  // bounded by the value range regardless of corpus size.
  def histogram(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(floor(col("l_extendedprice") / 10000).as("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("lo"),
        max(col("l_extendedprice")).as("hi"))
      .orderBy("bucket")

  val histogramSql: String =
    """SELECT CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS bucket,
      |  count(*) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
      |FROM lineitem
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  // --- q_w7_scd2 ----------------------------------------------------------
  // Change-stream → slowly-changing-dimension type 2: each user's event
  // value history becomes validity-interval rows (valid_from, valid_to,
  // is_current) via one per-key ordered window — the warehouse pattern
  // the reference's last-write-wins upsert cannot express (LWW keeps one
  // row per key; SCD2 keeps the full change history queryable by
  // interval). The (ts, event_id) ordering is tie-free. One shuffle on
  // the business key, identical at any scale.
  def scd2(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("value"), col("ts"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("value"),
        col("ts").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  val scd2Sql: String =
    """SELECT user_id, event_id, value, ts AS valid_from,
      |  LEAD(ts, 1) OVER w AS valid_to,
      |  LEAD(ts, 1) OVER w IS NULL AS is_current
      |FROM events
      |WHERE event_type = 'purchase'
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, valid_from, event_id""".stripMargin

  // --- q_ev_transitions ---------------------------------------------------
  // First-order Markov transition model over each user's event stream —
  // the behavioral "bigram LM": P(next event type | current), estimated
  // from lag pairs. The per-user sequencing is ONE window shuffle on
  // user_id (ordered by ts with event_id tie-break, so the pair stream
  // is deterministic); counts aggregate at (from, to) grain — a K²
  // table for K event types, the model a dashboard or a simulator
  // consumes. Probabilities divide exact counts once per cell (count /
  // row-total, both BIGINT → one double division in the same operand
  // order in both engines). At 100 TB: window on the natural
  // user-partitioned layout, then a K²-cell aggregate — map-side
  // combinable, the shuffle after the window moves K² digests.
  def transitions(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(s, d)
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("row_n"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("row_n").cast("double")).as("p"))
      .orderBy("from_type", "to_type")
  }

  val transitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |cnt AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM pairs WHERE to_type IS NOT NULL
      |  GROUP BY from_type, to_type),
      |tot AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
      |  FROM cnt GROUP BY from_type)
      |SELECT c.from_type, c.to_type, c.n,
      |  CAST(c.n AS DOUBLE) / CAST(t.row_n AS DOUBLE) AS p
      |FROM cnt c JOIN tot t ON c.from_type = t.from_type
      |ORDER BY c.from_type, c.to_type""".stripMargin

  // --- q_ev_markov_stationary -------------------------------------------------
  // STATIONARY DISTRIBUTION of the behavior Markov chain — where the
  // transition matrix says users spend their time in the long run (the
  // long-run companion of q_ev_transitions, and the PageRank of the
  // K-state behavior graph). The matrix is a K²-cell digest by
  // construction, so the power iteration is DRIVER-SIDE arithmetic on
  // a collected O(K²) artifact (the Lloyd/HITS collect discipline —
  // K = |event types|, never data-grain); each round's terms
  // π_f·p_{f,t} quantize at 1e-12 into exact integers before the
  // per-state sum, so the iteration is order-free and the DuckDB
  // replay (chained materialized CTEs) reproduces every bit. The ONLY
  // corpus-scale work is the one window pass + aggregation that builds
  // the matrix.
  private val MarkovRounds = 20

  /** The driver-side matrix iteration is only legal while K = |event
    * types| stays digest-sized: the collect below is K² cells and each
    * round is K² driver multiplications. 512 states = ≤262k cells ≈
    * single-digit MB — comfortably a digest; a high-cardinality state
    * column (user ids, urls...) must fail LOUDLY here instead of
    * OOM-ing the driver. The distributed alternative at that grain is
    * the keyed-join power iteration [[Graph.pageRank]] runs: keep the
    * (f, t, p) cells as a DataFrame and make each round the
    * cells ⋈ pi_prev join + groupBy(t) sum — rounds × |cells| cluster
    * work, no driver matrix. */
  private[queries] val MarkovMaxStates = 512

  def markovStationary(s: SparkSession, d: String): DataFrame =
    markovStationaryOf(s, Tables.events(s, d), MarkovMaxStates)

  /** Core over any (user_id, ts, event_id, event_type) frame; exposed
    * so PropertySpec can drive the cardinality guard with a
    * high-cardinality fixture. */
  private[graft] def markovStationaryOf(s: SparkSession,
                                        events: DataFrame,
                                        maxStates: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // checkpointed: the guard agg, the row totals, and the collect all
    // read the cell digest — never re-derive the corpus window pass
    val cells = events
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("f"), col("next_type").as("t"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    // guard BEFORE the K²-cell collect, at state grain (one tiny agg)
    val nStates = cells.select(explode(array(col("f"), col("t"))).as("s"))
      .agg(countDistinct(col("s"))).first().getLong(0)
    require(nStates <= maxStates,
      s"markovStationary: $nStates states exceeds the $maxStates-state driver-matrix cap - " +
        "the K^2 transition digest no longer fits driver arithmetic; switch to the " +
        "distributed power iteration (keep the (f, t, p) cells as a DataFrame and make " +
        "each round a cells JOIN pi_prev + groupBy(t) sum, the Graph.pageRank shape)")
    val totals = cells.groupBy("f").agg(sum(col("n")).as("row_n"))
    val p = cells.join(totals, "f")
      .select(col("f"), col("t"),
        (col("n").cast("double") / col("row_n").cast("double")).as("p"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(2))).toMap
    val states = p.keys.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    var pi = states.map(_ => 1.0 / states.length)
    for (_ <- 1 to MarkovRounds) {
      pi = states.map { t =>
        states.zip(pi).map { case (f, pf) =>
          math.round(pf * p.getOrElse((f, t), 0.0) * 1e12)
        }.sum / 1e12
      }
    }
    import s.implicits._
    states.zip(pi).toDF("event_type", "stationary").orderBy("event_type")
  }

  lazy val markovStationarySql: String = {
    // Each round anchors on the FULL state set (LEFT JOIN from states),
    // not on p.t: a state with no incoming transition cells (an event
    // type that only ever appears as a predecessor) must stay in every
    // pi_i with mass 0.0 — exactly what the Spark side's
    // states.zip(pi) emits — or the exact row-set compare breaks on
    // any corpus with a degenerate (non-dense) transition matrix.
    val rounds = (1 to MarkovRounds).map { i =>
      val prev = s"pi${i - 1}"
      s"""pi$i AS MATERIALIZED (
         |  SELECT s.state,
         |    coalesce(CAST(sum(CAST(round(r.v * p.p * 1e12) AS BIGINT)) AS BIGINT), 0)::DOUBLE
         |      / 1e12 AS v
         |  FROM states s
         |  LEFT JOIN p ON p.t = s.state
         |  LEFT JOIN $prev r ON p.f = r.state
         |  GROUP BY s.state)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT event_type AS f,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS t
       |  FROM events),
       |cells AS MATERIALIZED (
       |  SELECT f, t, CAST(count(*) AS BIGINT) AS n
       |  FROM pairs WHERE t IS NOT NULL GROUP BY 1, 2),
       |tot AS MATERIALIZED (
       |  SELECT f, CAST(sum(n) AS BIGINT) AS row_n FROM cells GROUP BY 1),
       |p AS MATERIALIZED (
       |  SELECT c.f, c.t, c.n::DOUBLE / tot.row_n::DOUBLE AS p
       |  FROM cells c JOIN tot USING (f)),
       |states AS MATERIALIZED (
       |  SELECT DISTINCT f AS state FROM p
       |  UNION SELECT DISTINCT t AS state FROM p),
       |k AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS k FROM states),
       |pi0 AS MATERIALIZED (
       |  SELECT state, 1.0 / (SELECT k FROM k) AS v FROM states),
       |$rounds
       |SELECT state AS event_type, v AS stationary
       |FROM pi$MarkovRounds ORDER BY event_type""".stripMargin
  }

  // --- q_ev_theil -------------------------------------------------------------
  // THEIL T INEQUALITY INDEX of per-user activity — gini's
  // information-theoretic sibling, and the one that DECOMPOSES
  // (between-group + within-group), which is why policy/ops analyses
  // prefer it: T = (1/n) Σ (x/μ) ln(x/μ). Computed on the same
  // (activity v → user count m) value-domain digest as gini: the
  // ratio x/μ = v·n/total has an exact BIGINT numerator (v·n stays
  // far below 2^62 at any horizon), so the only doubles are ONE
  // division, one ln — quantized at 1e-6, the zipf/bm25 discipline —
  // and one fixed-order rebuild; per-level terms multiply by exact m
  // and sum as exact integers. Scale: user-grain aggregation + digest
  // math, like every inequality screen here.
  def theil(s: SparkSession, d: String): DataFrame = {
    val digest = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("v"))
      .groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("m"))
    val tot = digest.groupBy("event_type")
      .agg(sum(col("m")).as("n"),
        sum((col("v") * col("m")).cast("decimal(38,0)")).as("total"))
    val ratio = (col("v") * col("n")).cast("double") /
      col("total").cast("double")
    digest.join(broadcast(tot), "event_type")
      .withColumn("l6", round(log(ratio) * 1e6).cast("long"))
      .withColumn("q",
        round(ratio * col("l6").cast("double")).cast("long") * col("m"))
      .groupBy("event_type")
      .agg(max(col("n")).as("n_users"),
        max(col("total")).cast("long").as("n_events"),
        sum(col("q")).as("sq"))
      .select(col("event_type"), col("n_users"), col("n_events"),
        ((col("sq").cast("double") / 1e6) / col("n_users").cast("double"))
          .as("theil"))
      .orderBy("event_type")
  }

  val theilSql: String =
    """WITH digest AS MATERIALIZED (
      |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS m FROM (
      |    SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS v
      |    FROM events GROUP BY 1, 2)
      |  GROUP BY 1, 2),
      |tot AS MATERIALIZED (
      |  SELECT event_type, CAST(sum(m) AS BIGINT) AS n,
      |    sum(CAST(v * m AS DECIMAL(38,0))) AS total
      |  FROM digest GROUP BY 1),
      |terms AS MATERIALIZED (
      |  SELECT d.event_type, t.n, t.total,
      |    CAST(round(
      |      (CAST(d.v * t.n AS DOUBLE) / CAST(t.total AS DOUBLE))
      |      * CAST(CAST(round(ln(CAST(d.v * t.n AS DOUBLE)
      |          / CAST(t.total AS DOUBLE)) * 1e6) AS BIGINT) AS DOUBLE))
      |      AS BIGINT) * d.m AS q
      |  FROM digest d JOIN tot t USING (event_type))
      |SELECT event_type, max(n) AS n_users,
      |  CAST(max(total) AS BIGINT) AS n_events,
      |  (CAST(sum(q) AS BIGINT)::DOUBLE / 1e6) / CAST(max(n) AS DOUBLE)
      |    AS theil
      |FROM terms
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_ev_pareto ------------------------------------------------------------
  // CONCENTRATION DECILES — "the top 10% of users produce X% of
  // events", the table behind every Pareto claim (q_ev_gini compresses
  // it to one scalar; operators read the curve). Computed WITHOUT a
  // global row sort: users collapse to the (activity n → user count u)
  // VALUE-DOMAIN digest (distinct activity levels — bounded like every
  // histogram here), a digest-grain cumulative window assigns each
  // level its user-rank interval [lo, hi] in descending-activity
  // order (users at the same level are interchangeable, so no
  // tie-break is needed or meaningful), and each decile d overlaps
  // those intervals with exact integer interval arithmetic:
  // events(d) = Σ_levels n · |[lo,hi] ∩ [dlo,dhi]|. A 10^9-user corpus
  // pays one user-grain aggregation + digest-grain math — never the
  // ntile-over-everything single-partition sort. Shares are exact-int
  // divisions; the cumulative share reuses the same 10-row window.
  def pareto(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grp = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .groupBy("n").agg(count(lit(1)).as("u"))
    val tot = grp.agg(sum(col("u")).as("uu"),
      sum((col("n") * col("u")).cast("decimal(38,0)")).as("ee"))
    // digest-grain window: rows = distinct activity levels, bounded
    val spans = grp
      .withColumn("before",
        coalesce(sum(col("u")).over(Window.orderBy(col("n").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n"), col("u"),
        (col("before") + 1).as("lo"), (col("before") + col("u")).as("hi"))
    val perDecile = spans.crossJoin(broadcast(tot))
      .withColumn("d", explode(sequence(lit(0L), lit(9L))))
      .withColumn("dlo", expr("(uu * d) DIV 10") + 1)
      .withColumn("dhi", expr("(uu * (d + 1)) DIV 10"))
      .withColumn("ov",
        greatest(lit(0L), least(col("hi"), col("dhi")) -
          greatest(col("lo"), col("dlo")) + 1))
      .groupBy("d")
      .agg(max(col("dhi") - col("dlo") + 1).as("n_users"),
        sum((col("n") * col("ov")).cast("decimal(38,0)")).as("n_ev"),
        max(col("ee")).as("ee"))
    val wcum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDecile
      .select(col("d").as("decile"), col("n_users"),
        col("n_ev").cast("long").as("n_events"),
        (col("n_ev").cast("double") / col("ee").cast("double")).as("share"),
        (sum(col("n_ev")).over(wcum).cast("double") /
          col("ee").cast("double")).as("cum_share"))
      .orderBy("decile")
  }

  val paretoSql: String =
    """WITH ua AS MATERIALIZED (
      |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1),
      |grp AS MATERIALIZED (
      |  SELECT n, CAST(count(*) AS BIGINT) AS u FROM ua GROUP BY 1),
      |tot AS MATERIALIZED (
      |  SELECT CAST(sum(u) AS BIGINT) AS uu,
      |    sum(CAST(n * u AS DECIMAL(38,0))) AS ee FROM grp),
      |spans AS MATERIALIZED (
      |  SELECT n, u,
      |    coalesce(CAST(sum(u) OVER (ORDER BY n DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) + 1 AS lo,
      |    coalesce(CAST(sum(u) OVER (ORDER BY n DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
      |      0) + u AS hi
      |  FROM grp),
      |per_d AS MATERIALIZED (
      |  SELECT d,
      |    max((uu * (d + 1)) // 10 - (uu * d) // 10) AS n_users,
      |    sum(CAST(n * greatest(0, least(hi, (uu * (d + 1)) // 10)
      |      - greatest(lo, (uu * d) // 10 + 1) + 1) AS DECIMAL(38,0)))
      |      AS n_ev,
      |    max(ee) AS ee
      |  FROM spans, tot, unnest(generate_series(0, 9)) AS g(d)
      |  GROUP BY d)
      |SELECT CAST(d AS BIGINT) AS decile, CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_ev AS BIGINT) AS n_events,
      |  CAST(n_ev AS DOUBLE) / CAST(ee AS DOUBLE) AS share,
      |  CAST(sum(n_ev) OVER (ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(ee AS DOUBLE) AS cum_share
      |FROM per_d
      |ORDER BY decile""".stripMargin

  // --- q_ev_seq_support -------------------------------------------------------
  // GAPPED sequence support mining — "a THEN b within an hour", counted
  // in DISTINCT USERS (support), the sequential-pattern primitive under
  // "what do users do after an error" and next-feature analyses. This
  // is NOT q_ev_transitions: transitions counts ADJACENT steps; here b
  // may occur any number of events after a, as long as it lands inside
  // the gap window — the classic SPAM/PrefixSpan length-2 support, and
  // the only formulation robust to interleaved noise events. The pair
  // join is BANDED on (user, hour-bucket): each left event joins only
  // its own and the next bucket (the q_t12 band-join trick), so
  // candidate volume is Σ per-(user, hour) counts² — never the
  // per-user cross product a plain time-range join degenerates to
  // (~|events/user|² ≈ 90k pairs per user at sf0.1). Support dedups at
  // (user, a, b) grain first, so the final aggregation is bounded by
  // users × |types|². The oracle replays the naive time-range form —
  // tractable at oracle SF, and the band decomposition is provably the
  // same predicate ((tb − ta) ∈ (0, 1h] ⟹ hb ∈ {ha, ha+1}).
  def seqSupport(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600L).as("h"))
    val x = e.select(col("user_id"), col("ts").as("ta"),
        col("event_type").as("a"),
        explode(array(col("h"), col("h") + 1)).as("hj"))
    val y = e.select(col("user_id").as("u2"), col("ts").as("tb"),
        col("event_type").as("b"), col("h").as("hb"))
    val pairs = x.join(y,
        x("user_id") === y("u2") && x("hj") === y("hb") &&
          y("tb") > x("ta") &&
          y("tb") <= x("ta") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("a"), col("b"))
      .distinct()
    pairs.groupBy("a", "b").agg(count(lit(1)).as("support"))
      .orderBy("a", "b")
  }

  val seqSupportSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT user_id, ts, event_type FROM events),
      |p AS MATERIALIZED (
      |  SELECT DISTINCT x.user_id, x.event_type AS a, y.event_type AS b
      |  FROM e x JOIN e y
      |    ON y.user_id = x.user_id
      |   AND y.ts > x.ts AND y.ts <= x.ts + INTERVAL 1 HOUR)
      |SELECT a, b, CAST(count(*) AS BIGINT) AS support
      |FROM p GROUP BY a, b
      |ORDER BY a, b""".stripMargin

  // --- q_ev_next_pred -------------------------------------------------------
  // The transition model APPLIED — train-then-score as one composed
  // relational op: each user's LAST observed event type (deterministic
  // struct-max, never last()) joins the q_ev_transitions matrix to
  // yield that user's next-event distribution P(next | last). This is
  // the model-serving shape of every behavioral predictor: the model
  // is a K²-cell broadcast table, scoring is one broadcast join at
  // user grain — no event-grain work after the two aggregations the
  // model itself needs. Probability bits are the exact divisions
  // q_ev_transitions pins.
  def nextPred(s: SparkSession, d: String): DataFrame = {
    val lastType = Tables.events(s, d)
      .groupBy("user_id")
      .agg(max(struct(col("ts"), col("event_id"), col("event_type")))
        .getField("event_type").as("from_type"))
    lastType.join(broadcast(transitions(s, d)), "from_type")
      .select(col("user_id"), col("from_type"), col("to_type"), col("p"))
      .orderBy("user_id", "to_type")
  }

  val nextPredSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events),
      |cnt AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM pairs WHERE to_type IS NOT NULL
      |  GROUP BY from_type, to_type),
      |tot AS (
      |  SELECT from_type, CAST(sum(n) AS BIGINT) AS row_n
      |  FROM cnt GROUP BY from_type),
      |model AS (
      |  SELECT c.from_type, c.to_type,
      |    CAST(c.n AS DOUBLE) / CAST(t.row_n AS DOUBLE) AS p
      |  FROM cnt c JOIN tot t ON c.from_type = t.from_type),
      |last_t AS (
      |  SELECT user_id,
      |    max({'t': ts, 'e': event_id, 'y': event_type}).y AS from_type
      |  FROM events GROUP BY user_id)
      |SELECT l.user_id, l.from_type, m.to_type, m.p
      |FROM last_t l JOIN model m ON l.from_type = m.from_type
      |ORDER BY l.user_id, m.to_type""".stripMargin

  // --- q_w12_snapshot_diff --------------------------------------------------
  // Table diff between two snapshots — the regression check every
  // pipeline change ships behind ("what did this rerun change?"):
  // per-key fates added / removed / changed / unchanged between the
  // January and February LWW states of the (user, event_type) series.
  // Each snapshot is one deterministic latest-per-key reduction
  // (max over a (ts, event_id, cents) struct — never first()/last()),
  // the diff is ONE full-outer join on the key with a CASE fate, and
  // the value compare runs on exact integer cents so "changed" can
  // never flicker on double noise. At 100 TB both snapshots are
  // key-grain aggregates (map-side combined) and the join shuffles
  // key-grain digests — cost is O(keys), not O(events); with both
  // snapshots bucketed on the key the join exchange disappears.
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    def snap(lo: String, hi: String) =
      Tables.events(s, d)
        .filter(col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
        .groupBy("user_id", "event_type")
        .agg(max(struct(col("ts"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents")))
          .getField("cents").as("cents"))
    diffOf(snap("2024-01-02", "2024-01-03"), snap("2024-01-03", "2024-01-04"))
  }

  /** The diff core over two (user_id, event_type, cents) snapshots —
    * package-visible so the spec can construct all four fates. */
  private[graft] def diffOf(sa: DataFrame, sb: DataFrame): DataFrame = {
    val a = sa.withColumnRenamed("cents", "cents_a")
    val b = sb.withColumnRenamed("cents", "cents_b")
    a.join(b, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        when(col("cents_a").isNull, "added")
          .when(col("cents_b").isNull, "removed")
          .when(col("cents_a") === col("cents_b"), "unchanged")
          .otherwise("changed").as("fate"),
        (col("cents_a").cast("double") / 100.0).as("v1"),
        (col("cents_b").cast("double") / 100.0).as("v2"))
      .orderBy("user_id", "event_type")
  }

  val snapshotDiffSql: String =
    """WITH a AS (
      |  SELECT user_id, event_type,
      |    max({'t': ts, 'e': event_id,
      |         'c': CAST(round(value * 100) AS BIGINT)}).c AS cents_a
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03'
      |  GROUP BY user_id, event_type),
      |b AS (
      |  SELECT user_id, event_type,
      |    max({'t': ts, 'e': event_id,
      |         'c': CAST(round(value * 100) AS BIGINT)}).c AS cents_b
      |  FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04'
      |  GROUP BY user_id, event_type)
      |SELECT coalesce(a.user_id, b.user_id) AS user_id,
      |  coalesce(a.event_type, b.event_type) AS event_type,
      |  CASE WHEN a.cents_a IS NULL THEN 'added'
      |       WHEN b.cents_b IS NULL THEN 'removed'
      |       WHEN a.cents_a = b.cents_b THEN 'unchanged'
      |       ELSE 'changed' END AS fate,
      |  CAST(a.cents_a AS DOUBLE) / 100.0 AS v1,
      |  CAST(b.cents_b AS DOUBLE) / 100.0 AS v2
      |FROM a FULL OUTER JOIN b
      |  ON a.user_id = b.user_id AND a.event_type = b.event_type
      |ORDER BY user_id, event_type""".stripMargin

  // --- q_ev_retention -----------------------------------------------------
  // Cohort retention: users grouped by first-active week, counted per
  // week offset they return in — the companion table to the funnel in
  // every product-analytics suite. Week indexes are exact integer
  // epoch-day divisions (no calendar/timezone arithmetic to disagree
  // on). Two aggregations, both keyed on user/cohort — the same shuffle
  // discipline as the funnel; distinct-user counts shuffle (cohort,
  // offset, user) triples, never event rows.
  def retention(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        floor(col("ts").cast("long") / (7L * 86400)).as("week"))
    val first = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    ev.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  val retentionSql: String =
    """WITH ev AS (
      |  SELECT user_id,
      |    FLOOR((epoch_us(ts) // 1000000) / (7 * 86400))::BIGINT AS week
      |  FROM events),
      |first AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id)
      |SELECT cohort_week, week - cohort_week AS week_offset,
      |  count(DISTINCT ev.user_id) AS n_users
      |FROM ev JOIN first ON ev.user_id = first.user_id
      |GROUP BY 1, 2
      |ORDER BY cohort_week, week_offset""".stripMargin

  // --- q_ev_rfm -------------------------------------------------------------
  // RFM SEGMENTATION — the workhorse customer taxonomy: per user,
  // Recency (days since last activity vs the corpus max day),
  // Frequency (event count) and Monetary (exact purchase cents), each
  // scored into quintiles by ntile(5) over a TOTAL order (metric +
  // user_id tiebreak — both engines fill ntile buckets by row order,
  // so the tiebreak makes assignment deterministic, and both use the
  // same first-(n mod k)-buckets-larger fill rule). Score direction:
  // 5 is always best (most recent / most frequent / highest spend).
  // The segment label is the standard R×F matrix collapse. Scale
  // note: the global ntile windows ride the USER-GRAIN digest; at
  // billions of users the swap is exact quintile BOUNDS from the
  // selection core broadcast back (the q_ag_winsorize pattern) —
  // same result, no single-partition window.
  def rfm(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    val maxDay = e.agg(max(date_trunc("day", col("ts"))).as("max_day"))
    val users = e.groupBy("user_id").agg(
        max(col("ts")).as("last_ts"),
        count(lit(1)).as("frequency"),
        sum(when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L)).as("monetary_cents"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency_days",
        datediff(col("max_day"), date_trunc("day", col("last_ts"))).cast("long"))
    val scored = users
      .withColumn("r_score", ntile(5).over(
        Window.orderBy(col("recency_days").desc, col("user_id"))).cast("long"))
      .withColumn("f_score", ntile(5).over(
        Window.orderBy(col("frequency").asc, col("user_id"))).cast("long"))
      .withColumn("m_score", ntile(5).over(
        Window.orderBy(col("monetary_cents").asc, col("user_id"))).cast("long"))
    scored.withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4 && col("m_score") >= 4,
          "champion")
          .when(col("r_score") >= 4 && col("f_score") <= 2, "new_or_promising")
          .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
          .when(col("r_score") <= 2 && col("f_score") <= 2, "hibernating")
          .otherwise("core"))
      .select("user_id", "recency_days", "frequency", "monetary_cents",
        "r_score", "f_score", "m_score", "segment")
      .orderBy("user_id")
  }

  val rfmSql: String =
    """WITH mx AS MATERIALIZED (
      |  SELECT date_trunc('day', max(ts)) AS max_day FROM events),
      |users AS MATERIALIZED (
      |  SELECT user_id, max(ts) AS last_ts,
      |    CAST(count(*) AS BIGINT) AS frequency,
      |    CAST(sum(CASE WHEN event_type = 'purchase'
      |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      |      AS monetary_cents
      |  FROM events GROUP BY user_id),
      |rec AS MATERIALIZED (
      |  SELECT user_id, frequency, monetary_cents,
      |    CAST(max_day::DATE - date_trunc('day', last_ts)::DATE AS BIGINT)
      |      AS recency_days
      |  FROM users, mx),
      |scored AS MATERIALIZED (
      |  SELECT user_id, recency_days, frequency, monetary_cents,
      |    CAST(ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS BIGINT) AS r_score,
      |    CAST(ntile(5) OVER (ORDER BY frequency ASC, user_id) AS BIGINT) AS f_score,
      |    CAST(ntile(5) OVER (ORDER BY monetary_cents ASC, user_id) AS BIGINT) AS m_score
      |  FROM rec)
      |SELECT user_id, recency_days, frequency, monetary_cents,
      |  r_score, f_score, m_score,
      |  CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
      |       WHEN r_score >= 4 AND f_score <= 2 THEN 'new_or_promising'
      |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |       WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
      |       ELSE 'core' END AS segment
      |FROM scored ORDER BY user_id""".stripMargin

  // --- q_ag_benford ---------------------------------------------------------
  // BENFORD'S-LAW FIRST-DIGIT SCREEN — the classic fraud / synthetic-
  // data detector: leading digits of naturally-occurring amounts
  // follow p(d) = log₁₀(1 + 1/d); fabricated or truncated feeds
  // don't. Two cross-engine traps designed out: (1) the digit comes
  // from the INTEGER cents string (`substring(cast(cents), 1, 1)`) —
  // never from formatting a DOUBLE, whose rendering differs between
  // engines (and Benford is scale-invariant, so cents ≡ dollars);
  // (2) the expected probabilities are nine shared DECIMAL LITERALS
  // (same text ⇒ same double in both engines — no engine evaluates
  // log10 at run time), and the χ² statistic is a FIXED nine-term
  // expression chain over pivoted per-digit counts — never a SUM
  // aggregate over double terms, whose order could move bits. Verdict
  // gates on the df = 8, α = 0.05 critical value 15.507. Scale: one
  // map-side-combinable 9-cell aggregation; everything after is a
  // 1-row digest. (The fixture's uniform synthetic prices FAIL
  // Benford loudly — the screen working as designed on data that is,
  // in fact, synthetic.)
  private val BenfordP: Seq[(Int, String)] = Seq(
    1 -> "0.3010299956639812", 2 -> "0.17609125905568124",
    3 -> "0.12493873660829992", 4 -> "0.09691001300805642",
    5 -> "0.07918124604762482", 6 -> "0.06694678963061322",
    7 -> "0.05799194697768673", 8 -> "0.05115252244738129",
    9 -> "0.04575749056067514")

  def benford(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.lineitem(s, d)
      .select(substring(round(col("l_extendedprice") * 100).cast("long")
        .cast("string"), 1, 1).cast("int").as("dig"))
      .groupBy("dig").agg(count(lit(1)).as("c"))
    val aggs = sum(col("c")).as("n") +:
      BenfordP.map { case (dg, _) =>
        sum(when(col("dig") === dg, col("c")).otherwise(0L)).as(s"c$dg")
      }
    val row = counts.groupBy().agg(aggs.head, aggs.tail: _*)
    val nd = col("n").cast("double")
    def term(dg: Int, p: String): Column = {
      val e = nd * lit(p.toDouble)
      (col(s"c$dg").cast("double") - e) * (col(s"c$dg").cast("double") - e) / e
    }
    val chi2 = BenfordP.map { case (dg, p) => term(dg, p) }.reduce(_ + _)
    val worst = greatest(BenfordP.map { case (dg, p) =>
      struct(abs(col(s"c$dg").cast("double") / nd - lit(p.toDouble)).as("dev"),
        lit(dg.toLong).as("dig"))
    }: _*)
    row.select(col("n"), chi2.as("chi2"),
        when(chi2 > 15.507, 1L).otherwise(0L).as("significant"),
        worst.getField("dig").as("worst_digit"),
        worst.getField("dev").as("worst_dev"))
      .orderBy("n")
  }

  lazy val benfordSql: String = {
    val cs = BenfordP.map { case (dg, _) =>
      s"CAST(sum(CASE WHEN dig = $dg THEN c ELSE 0 END) AS BIGINT) AS c$dg"
    }.mkString(",\n      |    ")
    val terms = BenfordP.map { case (dg, p) =>
      s"(CAST(c$dg AS DOUBLE) - CAST(n AS DOUBLE) * CAST('$p' AS DOUBLE)) * (CAST(c$dg AS DOUBLE) - CAST(n AS DOUBLE) * CAST('$p' AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST('$p' AS DOUBLE))"
    }.mkString("\n      |    + ")
    // DuckDB 1.0 has no greatest() over STRUCTs; max() over an
    // unnested struct list is the supported argmax form
    val devs = BenfordP.map { case (dg, p) =>
      s"{'dev': abs(CAST(c$dg AS DOUBLE) / CAST(n AS DOUBLE) - CAST('$p' AS DOUBLE)), 'dig': CAST($dg AS BIGINT)}"
    }.mkString(",\n      |      ")
    s"""WITH digs AS MATERIALIZED (
       |  SELECT CAST(substring(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
       |    AS VARCHAR), 1, 1) AS INT) AS dig
       |  FROM lineitem),
       |counts AS MATERIALIZED (
       |  SELECT dig, CAST(count(*) AS BIGINT) AS c FROM digs GROUP BY dig),
       |pivoted AS MATERIALIZED (
       |  SELECT CAST(sum(c) AS BIGINT) AS n,
       |    $cs
       |  FROM counts),
       |scored AS MATERIALIZED (
       |  SELECT n,
       |    $terms AS chi2,
       |    (SELECT max(x.s) FROM (SELECT unnest([$devs]) AS s) x) AS worst
       |  FROM pivoted)
       |SELECT n, chi2,
       |  CAST(CASE WHEN chi2 > 15.507 THEN 1 ELSE 0 END AS BIGINT) AS significant,
       |  worst.dig AS worst_digit, worst.dev AS worst_dev
       |FROM scored ORDER BY n""".stripMargin
  }

  // --- q_ag_winsorize -------------------------------------------------------
  // WINSORIZED + TRIMMED MEANS — the robust location estimates between
  // the raw mean (outlier-hostage) and the median (throws information
  // away): clamp (winsorize) or drop (trim) everything outside the
  // exact per-group [p05, p95], then one exact integer mean each. The
  // percentile bounds come from the SAME distributed selection core as
  // median/quantiles/MAD ([[selectAtRanks]], ceiling-rank
  // k = ⌈p·n⌉ via (n·num + den − 1) DIV den) — this operator exists
  // partly to show the selection machinery COMPOSES: two ranks, one
  // histogram walk, bounds broadcast back, a second scan aggregates
  // clamped/trimmed cent sums in DECIMAL(38,0) (the linreg
  // accumulator discipline) with one division at the end. Scale:
  // three bounded passes from the selection core + one
  // map-side-combinable aggregation; the bounds digest is
  // groups-sized and broadcasts.
  def winsorize(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("v"))
      .localCheckpoint()
    val qs = selectAtRanks(base, Seq(("p05", 5L, 100L), ("p95", 95L, 100L)))
    val bounds = qs.groupBy("g").agg(
      max(when(col("quantile") === "p05", col("value_cents"))).as("lo"),
      max(when(col("quantile") === "p95", col("value_cents"))).as("hi"))
    base.join(broadcast(bounds), "g")
      .select(col("g"), col("v"), col("lo"), col("hi"),
        greatest(col("lo"), least(col("hi"), col("v"))).as("w"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(when(col("v") < col("lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
        sum(when(col("v") > col("hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
        sum(col("w").cast("decimal(38,0)")).as("ws"),
        sum(when(col("v") >= col("lo") && col("v") <= col("hi"), col("v"))
          .otherwise(0L).cast("decimal(38,0)")).as("ts"),
        sum(when(col("v") >= col("lo") && col("v") <= col("hi"), 1L)
          .otherwise(0L)).as("tn"),
        max(col("lo")).as("lo_cents"), max(col("hi")).as("hi_cents"))
      .select(col("g"), col("n"), col("lo_cents"), col("hi_cents"),
        col("n_clamped_lo"), col("n_clamped_hi"),
        (col("ws").cast("double") / col("n").cast("double") / 100.0)
          .as("winsorized_mean"),
        (col("ts").cast("double") / col("tn").cast("double") / 100.0)
          .as("trimmed_mean"))
      .orderBy("g")
  }

  val winsorizeSql: String =
    """WITH base AS MATERIALIZED (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem),
      |ranked AS MATERIALIZED (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
      |    count(*) OVER (PARTITION BY g) AS n
      |  FROM base),
      |bounds AS MATERIALIZED (
      |  SELECT g,
      |    max(CASE WHEN rn = (5 * n + 99) // 100 THEN v END) AS lo,
      |    max(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS hi
      |  FROM ranked GROUP BY g),
      |agg AS MATERIALIZED (
      |  SELECT b.g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo,
      |    CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi,
      |    sum(CAST(greatest(lo, least(hi, v)) AS DECIMAL(38,0))) AS ws,
      |    sum(CAST(CASE WHEN v >= lo AND v <= hi THEN v ELSE 0 END
      |      AS DECIMAL(38,0))) AS ts,
      |    CAST(sum(CASE WHEN v >= lo AND v <= hi THEN 1 ELSE 0 END) AS BIGINT) AS tn,
      |    max(lo) AS lo_cents, max(hi) AS hi_cents
      |  FROM base b JOIN bounds USING (g) GROUP BY b.g)
      |SELECT g, n, lo_cents, hi_cents, n_clamped_lo, n_clamped_hi,
      |  CAST(ws AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS winsorized_mean,
      |  CAST(ts AS DOUBLE) / CAST(tn AS DOUBLE) / 100.0 AS trimmed_mean
      |FROM agg ORDER BY g""".stripMargin

  // --- q_ev_cohort_ltv ------------------------------------------------------
  // COHORT LTV TRIANGLE — the revenue companion of q_ev_retention:
  // per (signup-week cohort × age-in-weeks) cell, active users,
  // purchase revenue, and the RUNNING lifetime value per cohort
  // (cumulative revenue over age, divided by cohort size — the curve
  // growth teams actually plot). Revenue is exact integer cents
  // (sum in BIGINT, documented headroom: ≤ 10⁷ cents/purchase means
  // wrap needs ~10¹¹ purchases per cohort; the DECIMAL(38,0) step-up
  // is the linreg pattern if a real deploy gets there); cohort size
  // is the distinct-user count of the cohort's week-0 cell by
  // definition. The cumulative window partitions by cohort and rides
  // the (cohorts × ages) digest — bounded by the calendar, not the
  // event count. Scale: one shuffle to the user grain for first-week,
  // one broadcast-joinable cohort-size digest, one cell aggregation.
  def cohortLtv(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        floor(col("ts").cast("long") / (7L * 86400)).as("week"),
        round(col("value") * 100).cast("long").as("cents"))
    val first = ev.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val sized = first.groupBy("cohort_week")
      .agg(count(lit(1)).as("cohort_users"))
    val cells = ev.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(countDistinct(col("user_id")).as("n_active"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("revenue_cents"))
    val w = Window.partitionBy("cohort_week").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(sized), "cohort_week")
      .withColumn("cum_revenue_cents", sum(col("revenue_cents")).over(w))
      .select(col("cohort_week"), col("age_weeks"), col("cohort_users"),
        col("n_active"), col("revenue_cents"), col("cum_revenue_cents"),
        (col("cum_revenue_cents").cast("double")
          / col("cohort_users").cast("double") / 100.0).as("ltv"))
      .orderBy("cohort_week", "age_weeks")
  }

  val cohortLtvSql: String =
    """WITH ev AS MATERIALIZED (
      |  SELECT user_id, event_type,
      |    FLOOR((epoch_us(ts) // 1000000) / (7 * 86400))::BIGINT AS week,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |first AS MATERIALIZED (
      |  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id),
      |sized AS MATERIALIZED (
      |  SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
      |  FROM first GROUP BY 1),
      |cells AS MATERIALIZED (
      |  SELECT cohort_week, week - cohort_week AS age_weeks,
      |    CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
      |      AS BIGINT) AS revenue_cents
      |  FROM ev JOIN first ON ev.user_id = first.user_id
      |  GROUP BY 1, 2),
      |cum AS MATERIALIZED (
      |  SELECT c.cohort_week, age_weeks, cohort_users, n_active, revenue_cents,
      |    CAST(sum(revenue_cents) OVER (PARTITION BY c.cohort_week
      |      ORDER BY age_weeks ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum_revenue_cents
      |  FROM cells c JOIN sized s ON c.cohort_week = s.cohort_week)
      |SELECT cohort_week, age_weeks, cohort_users, n_active, revenue_cents,
      |  cum_revenue_cents,
      |  CAST(cum_revenue_cents AS DOUBLE) / CAST(cohort_users AS DOUBLE)
      |    / 100.0 AS ltv
      |FROM cum ORDER BY cohort_week, age_weeks""".stripMargin

  // --- q_ag_rollup --------------------------------------------------------
  // ROLLUP (flag, status): detail + per-flag subtotal + grand total in
  // one pass. NULLS FIRST everywhere: Spark's asc default and DuckDB's
  // explicit, so subtotal rows sort identically.
  def rollup(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val rollupSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // --- q_ag_cube ----------------------------------------------------------
  // CUBE (priority, status) over orders: all 4 grouping sets in one pass.
  def cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        sum(dec("o_totalprice")).cast("double").as("sum_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("o_orderstatus").asc_nulls_first)

  val cubeSql: String =
    """SELECT o_orderpriority, o_orderstatus,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE (o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin

  // --- q_ag_grouping_sets -------------------------------------------------
  // Explicit GROUPING SETS via SQL (the Dataset API exposes only
  // rollup/cube; arbitrary sets go through the SQL front end).
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_gs_lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM graft_gs_lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // --- q_ag_percentiles ---------------------------------------------------
  // Exact quartiles of quantity per return flag. Integer-valued doubles
  // and quarter fractions keep the linear interpolation exact in both
  // engines (Spark `percentile` and DuckDB `quantile_cont` use the same
  // p·(n−1) definition).
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25"),
        percentile(col("l_quantity"), lit(0.5)).as("p50"),
        percentile(col("l_quantity"), lit(0.75)).as("p75"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  val percentilesSql: String =
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.25) AS p25,
      |  quantile_cont(l_quantity, 0.50) AS p50,
      |  quantile_cont(l_quantity, 0.75) AS p75,
      |  COUNT(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --- q_ag_pivot ---------------------------------------------------------
  // Long→wide pivot: per-user event-type counts as columns. Pivot values
  // are an explicit list (deterministic schema — never scan-inferred at
  // scale); missing cells coalesce to 0 like the oracle's FILTER form.
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  def pivotCounts(s: SparkSession, d: String): DataFrame = {
    val p = Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", EventTypes)
      .agg(count(lit(1)))
    p.select(col("user_id") +:
      EventTypes.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
      .orderBy("user_id")
  }

  val pivotCountsSql: String = {
    val cols = EventTypes
      .map(t => s"count(*) FILTER (WHERE event_type = '$t') AS n_$t")
      .mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  // --- q_ag_approx_distinct -----------------------------------------------
  // Sketch cardinality (HLL++) BOUNDED against the exact count in-plan.
  // The estimate itself can never hash-oracle (engine HLL
  // implementations differ bit-for-bit), so the verified surface is the
  // BOUND: |approx − exact| ≤ 3·rsd·exact, rendered as a boolean the
  // DuckDB twin asserts as literal TRUE — a sketch drifting out of its
  // documented 3σ envelope (rsd = 1.04/√m is HLL's standard error; the
  // default 0.05 here) breaks the hash exactly like a wrong sum would.
  // This is the r13 `no_oracle` exemption tightened into a bounded
  // pass. At 100 TB the sketch is the only affordable distinct; the
  // exact column rides along as the cross-engine-verified anchor.
  private val HllRsd = 0.05

  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), HllRsd).as("apx"),
        countDistinct(col("user_id")).as("n_users_exact"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"), col("n_users_exact"), col("n_events"),
        (abs(col("apx").cast("double") - col("n_users_exact").cast("double"))
          <= lit(3.0 * HllRsd) * col("n_users_exact").cast("double"))
          .as("within_3rsd"))
      .orderBy("event_type")

  val approxDistinctSql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id) AS n_users_exact,
      |  count(*) AS n_events,
      |  true AS within_3rsd
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_ag_hll_relational --------------------------------------------------
  // A HyperLogLog built RELATIONALLY from a deterministic hash — the
  // sketch q_ag_approx_distinct could never hash-oracle (engine HLL
  // implementations differ) becomes exactly reproducible when the
  // registers themselves are relational state: md5-derived 32-bit hash
  // of event_id → register = h mod 256, rank = 25 − bitlength of the remaining 24
  // bits (a 25-arm integer-comparison CASE — no log2, whose bits are
  // not portable), per-(group, register) MAX, then the harmonic-mean
  // estimate. The indicator sum Σ 2^−rank is EXACT in any summation
  // order — every term is a power of two ≥ 2^−25 and there are ≤ 256
  // of them, so all partial sums fit a 34-bit mantissa window — which
  // is what makes a parallel double SUM safe here when it isn't
  // anywhere else. At 100 TB this is the mergeable two-level shape:
  // per-partition partial registers combine map-side, 256 rows per
  // group reach the wire (same contract as Lloyd's digests), and
  // register tables from different days MERGE by max — the reason
  // sketches replace exact distincts at scale. The exact distinct and
  // the raw-estimate error ride along, spec-bounded; the hash pins
  // every register through the indicator sum. Cardinalities here
  // (~2000/group vs m=256) sit in the RAW-estimate regime by design:
  // the small-range correction is linear counting m·ln(m/zeros), and
  // ln() bits are not portable across engines — the `zeros` column
  // rides along so a consumer can apply it downstream.
  private val HllM = 256
  private val HllAlpha = 0.7213 / (1 + 1.079 / HllM.toDouble) // Flajolet's α_256

  def hllRelational(s: SparkSession, d: String): DataFrame = {
    val h = Hashes.md5Int32(col("event_id").cast("string"))
    val w = (h / HllM).cast("long") // 24-bit remainder
    val rank = (1 to 24).foldLeft(when(lit(false), lit(1))) { (acc, r) =>
      acc.when(col("w") >= (1L << (24 - r)), lit(r))
    }.otherwise(lit(25))
    val regs = Tables.events(s, d)
      .select(col("event_type"), pmod(h, lit(HllM)).as("reg"), w.as("w"))
      .select(col("event_type"), col("reg"), rank.as("rank"))
      .groupBy("event_type", "reg")
      .agg(max(col("rank")).as("r_max"))
    val sketch = regs.groupBy("event_type")
      .agg(count(lit(1)).as("n_set"),
        sum(lit(1.0) / expr("shiftleft(cast(1 as bigint), r_max)").cast("double"))
          .as("s_set"))
      .select(col("event_type"), col("n_set"),
        (lit(HllM) - col("n_set")).cast("long").as("zeros"),
        ((lit(HllM) - col("n_set")).cast("double") + col("s_set")).as("s_inv"))
      .select(col("event_type"), col("n_set"), col("zeros"), col("s_inv"),
        (lit(HllAlpha) * lit((HllM * HllM).toDouble) / col("s_inv")).as("est_hll"))
    val exact = Tables.events(s, d).groupBy("event_type")
      .agg(countDistinct(col("event_id")).as("n_exact"), count(lit(1)).as("n_events"))
    sketch.join(broadcast(exact), Seq("event_type")).orderBy("event_type")
  }

  val hllRelationalSql: String = {
    val rankCase = (1 to 24)
      .map(r => s"WHEN w >= ${1L << (24 - r)} THEN $r").mkString(" ")
    s"""WITH h AS (
       |  SELECT event_type,
       |    ${Hashes.md5Int32Sql("event_id::VARCHAR")} % $HllM AS reg,
       |    CASE $rankCase ELSE 25 END AS rank
       |  FROM (SELECT event_type, event_id,
       |      ${Hashes.md5Int32Sql("event_id::VARCHAR")} // $HllM AS w
       |    FROM events)),
       |regs AS (
       |  SELECT event_type, reg, max(rank) AS r_max FROM h GROUP BY 1, 2),
       |sk AS (
       |  SELECT event_type, count(*) AS n_set,
       |    CAST($HllM - count(*) AS BIGINT) AS zeros,
       |    ($HllM - count(*))::DOUBLE
       |      + sum(1.0::DOUBLE / ((1::BIGINT << r_max))::DOUBLE) AS s_inv
       |  FROM regs GROUP BY event_type),
       |ex AS (
       |  SELECT event_type, count(DISTINCT event_id) AS n_exact,
       |    count(*) AS n_events
       |  FROM events GROUP BY event_type)
       |SELECT sk.event_type, sk.n_set, sk.zeros, sk.s_inv,
       |  CAST('$HllAlpha' AS DOUBLE) * ${(HllM * HllM).toDouble} / sk.s_inv AS est_hll,
       |  ex.n_exact, ex.n_events
       |FROM sk JOIN ex ON sk.event_type = ex.event_type
       |ORDER BY sk.event_type""".stripMargin
  }

  // --- q_ag_cms -------------------------------------------------------------
  // COUNT-MIN SKETCH built relationally — the third reproducible
  // sketch, completing the merge-discipline trio: HLL registers merge
  // by MAX, Bloom words by OR, CMS counters by SUM. d = 4 seeded md5
  // hash rows × w = 256 buckets: the sketch is a 1024-row counter
  // table built by one map-side-combinable aggregation over the event
  // stream (counters shuffle, events don't), and a point query reads
  // its d counters and takes the MIN — here via d broadcast joins of
  // the distinct-key table against the counter table, so the query
  // side never shuffles on a raw key. Everything is integer
  // arithmetic: both engines replay the identical hash/bucket/count
  // path, so the estimates — including every collision-driven
  // OVERestimate — are bit-reproducible. The true count rides along:
  // est ≥ true always (counters only ever overcount), and the
  // overestimate mass is bounded by the ε = e/w design point,
  // spec-pinned. At 100 TB the 1024 counters are the only state that
  // moves — daily sketches SUM together, and the point-query cost is
  // independent of the stream length.
  private val CmsD = 4
  private val CmsW = 256

  def cms(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def bucket(c: Column, i: Int) =
      pmod(Hashes.md5Int32Seeded(c.cast("string"), 100 + i), lit(CmsW))
    val counters = ev.select(
      posexplode(array((0 until CmsD).map(i =>
        bucket(col("user_id"), i)): _*)))
      .toDF("row", "b")
      .groupBy("row", "b").agg(count(lit(1)).as("c"))
    val keys = ev.groupBy("user_id").agg(count(lit(1)).as("true_n"))
    var probed = keys
    for (i <- 0 until CmsD) {
      probed = probed
        .withColumn(s"b$i", bucket(col("user_id"), i))
        .join(broadcast(counters.filter(col("row") === i)
          .select(col("b").as(s"b$i"), col("c").as(s"c$i"))), Seq(s"b$i"))
    }
    probed.select(col("user_id"),
      least((0 until CmsD).map(i => col(s"c$i")): _*).as("est"),
      col("true_n"))
      .orderBy("user_id")
  }

  val cmsSql: String = {
    def bucketSql(c: String, i: Int) =
      s"(${Hashes.md5Int32SeededSql(c, 100 + i)} % $CmsW)"
    val counterRows = (0 until CmsD).map(i =>
      s"SELECT $i AS row, ${bucketSql("user_id::VARCHAR", i)} AS b FROM events")
      .mkString("\n       |  UNION ALL\n       |  ")
    val probeJoins = (0 until CmsD).map(i =>
      s"JOIN counters c$i ON c$i.row = $i AND c$i.b = ${bucketSql("k.user_id::VARCHAR", i)}")
      .mkString("\n       |")
    val leastArgs = (0 until CmsD).map(i => s"c$i.c").mkString(", ")
    s"""WITH counters AS MATERIALIZED (
       |  SELECT row, b, count(*) AS c FROM (
       |  $counterRows)
       |  GROUP BY row, b),
       |keys AS MATERIALIZED (
       |  SELECT user_id, count(*) AS true_n FROM events GROUP BY user_id)
       |SELECT k.user_id, least($leastArgs) AS est, k.true_n
       |FROM keys k
       |$probeJoins
       |ORDER BY k.user_id""".stripMargin
  }

  // --- q_ag_dyadic_quantile / q_ag_dyadic_range --------------------------------
  // DYADIC COUNTER TREE (Cormode–Muthukrishnan range-sum structure,
  // public) — the QUANTILE/RANGE member of the mergeable-sketch family
  // (HLL registers merge by MAX, Bloom words by OR, CMS counters by
  // SUM — this tree merges by SUM too, and unlike GK/t-digest its
  // state is plain integers, so merging is a relational aggregate and
  // the replay is bit-exact). Values quantize to cents clamped to
  // [0, 2^20); the tree keeps EXACT counts per (level, bucket) for
  // levels 8..19 — Σ_l 2^(20−l) ≤ 8,190 counter rows at ANY corpus
  // size (the resolution/state knob: one more level doubles the finest
  // rows and halves the value resolution). Quantile = a 12-step
  // top-down walk (at level l: if cum + node(l, x>>l) < target then
  // x += 2^l) landing on the 256-cent bucket whose EXACT prefix rank
  // brackets the target; an arbitrary aligned range count is the
  // canonical set-bit decomposition — ≤ 12 node lookups instead of a
  // scan, the structure's whole point once the domain outgrows one
  // histogram. The walk runs driver-side over the collected digest
  // (bounded ≤ 8,190 rows — the markov/pca capped-driver-artifact
  // discipline, require-guarded); the oracle replays the identical
  // walk as a generated 12-step CTE chain. All integers end to end.
  private[queries] val DyadBits = 20
  private[queries] val DyadMinLevel = 8 // finest stored level: 4096 buckets, 256-cent resolution
  private[queries] val DyadMaxRows = 200000 // digest-collect guard

  /** (level, bucket) → exact count over clamped cents; mergeable by SUM
    * (the streaming drain SUM-merges per-batch partials of this). */
  private[graft] def dyadicTree(ev: DataFrame): DataFrame = {
    val c = greatest(lit(0L),
      least(round(col("value") * 100).cast("long"), lit((1L << DyadBits) - 1)))
    ev.select(c.as("c"))
      .select(posexplode(array((DyadMinLevel until DyadBits).map(l =>
        shiftright(col("c"), l)): _*)))
      .toDF("idx", "bucket")
      .select((col("idx") + DyadMinLevel).as("level"), col("bucket"))
      .groupBy("level", "bucket").agg(count(lit(1)).as("cnt"))
  }

  private val DyadQs = Seq(0.5, 0.9, 0.99)

  def dyadicQuantile(s: SparkSession, d: String): DataFrame = {
    val tree = dyadicTree(Tables.events(s, d))
    val rows = tree.collect()
    require(rows.length <= DyadMaxRows,
      s"dyadic tree digest ${rows.length} rows exceeds the driver guard - " +
        "raise DyadMinLevel (coarser tree) or aggregate per-group trees distributed")
    val cnt = rows.map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    val n = rows.filter(_.getInt(0) == DyadBits - 1).map(_.getLong(2)).sum
    import s.implicits._
    DyadQs.map { q =>
      val target = math.ceil(q * n).toLong
      var x = 0L
      var cum = 0L
      var l = DyadBits - 1
      while (l >= DyadMinLevel) {
        val node = cnt.getOrElse((l.toLong, x >> l), 0L)
        if (cum + node < target) { cum += node; x += (1L << l) }
        l -= 1
      }
      val bucketN = cnt.getOrElse((DyadMinLevel.toLong, x >> DyadMinLevel), 0L)
      (q, target, n, x, x + (1L << DyadMinLevel), cum, bucketN,
        cum < target && target <= cum + bucketN)
    }.toDF("q", "target_rank", "n", "lo_cents", "hi_cents",
        "rank_below", "bucket_n", "contains")
      .orderBy("q")
  }

  /** The identical walk as DuckDB CTEs: tree → per-quantile 12-step
    * fold, generated mechanically like the PCA round chains (one FLAT
    * CTE namespace — DuckDB 1.0 raises an internal binder error on
    * UNION ALL arms that each open their own nested WITH here). */
  lazy val dyadicQuantileSql: String = {
    val levels = (DyadMinLevel until DyadBits)
      .map(l => s"SELECT $l AS level, (c >> $l) AS bucket FROM cl")
      .mkString("\n       |  UNION ALL\n       |  ")
    def walk(tag: String, qLit: String): String = {
      val steps = (DyadMinLevel until DyadBits).reverse.zipWithIndex.map {
        case (l, i) =>
          val prev = s"w${i}_$tag"
          val nd = s"coalesce((SELECT cnt FROM tree t WHERE t.level = $l " +
            s"AND t.bucket = (p.x >> $l)), 0)"
          s"""w${i + 1}_$tag AS MATERIALIZED (
             |  SELECT p.x + CASE WHEN p.cum + $nd < p.target
             |      THEN (1::BIGINT << $l) ELSE 0 END AS x,
             |    p.cum + CASE WHEN p.cum + $nd < p.target THEN $nd ELSE 0 END AS cum,
             |    p.target, p.n
             |  FROM $prev p)"""
            .stripMargin
      }.mkString(",\n")
      val last = s"w${DyadBits - DyadMinLevel}_$tag"
      s"""w0_$tag AS MATERIALIZED (
         |  SELECT 0::BIGINT AS x, 0::BIGINT AS cum,
         |    CAST(ceil($qLit * n.n) AS BIGINT) AS target, n.n
         |  FROM nn n),
         |$steps,
         |res_$tag AS MATERIALIZED (
         |  SELECT CAST($qLit AS DOUBLE) AS q, target AS target_rank, n,
         |    x AS lo_cents, x + ${1L << DyadMinLevel} AS hi_cents,
         |    cum AS rank_below,
         |    coalesce((SELECT cnt FROM tree t
         |      WHERE t.level = $DyadMinLevel AND t.bucket = (x >> $DyadMinLevel)), 0) AS bucket_n
         |  FROM $last)"""
        .stripMargin
    }
    val tags = DyadQs.map(q => (s"q${(q * 100).toInt}", q.toString))
    val chains = tags.map { case (t, q) => walk(t, q) }.mkString(",\n")
    val arms = tags.map { case (t, _) =>
      s"""SELECT q, target_rank, n, lo_cents, hi_cents, rank_below, bucket_n,
         |  (rank_below < target_rank AND target_rank <= rank_below + bucket_n) AS contains
         |FROM res_$t"""
        .stripMargin
    }.mkString("\n       |UNION ALL\n       |")
    s"""WITH cl AS MATERIALIZED (
       |  SELECT greatest(0, least(CAST(round(value * 100) AS BIGINT),
       |    ${(1L << DyadBits) - 1})) AS c FROM events),
       |tree AS MATERIALIZED (
       |  SELECT level, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |  $levels) GROUP BY level, bucket),
       |nn AS MATERIALIZED (
       |  SELECT CAST(sum(cnt) AS BIGINT) AS n FROM tree
       |  WHERE level = ${DyadBits - 1}),
       |$chains
       |$arms
       |ORDER BY q""".stripMargin
  }

  // Range counts by canonical decomposition: count([0, y)) for a
  // 256-aligned y is Σ over set bits j of y' = y >> 8 of node
  // (8 + j, (y' >> j) − 1); a range is prefix(b) − prefix(a). The
  // exact filter count rides along — equal by construction (exact
  // counters), so the hash verifies the DECOMPOSITION arithmetic.
  private val DyadRanges = Seq(
    ("r1_low", 0L, 256L * 40),      // [0, 10240) cents
    ("r2_mid", 256L * 100, 256L * 300),
    ("r3_tail", 256L * 40, 1L << DyadBits)) // full-domain upper arm, nonzero mass

  def dyadicRange(s: SparkSession, d: String): DataFrame = {
    val tree = dyadicTree(Tables.events(s, d))
    val rows = tree.collect()
    require(rows.length <= DyadMaxRows, "dyadic tree digest exceeds driver guard")
    val cnt = rows.map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    val total = rows.filter(_.getInt(0) == DyadBits - 1).map(_.getLong(2)).sum
    def prefix(y: Long): Long =
      // the full-domain prefix has its set bit ABOVE the stored levels
      if (y >= (1L << DyadBits)) total
      else {
        val yp = y >> DyadMinLevel
        (0 until (DyadBits - DyadMinLevel)).map { j =>
          if (((yp >> j) & 1L) == 1L)
            cnt.getOrElse(((DyadMinLevel + j).toLong, (yp >> j) - 1), 0L)
          else 0L
        }.sum
      }
    val ev = Tables.events(s, d).select(
      greatest(lit(0L), least(round(col("value") * 100).cast("long"),
        lit((1L << DyadBits) - 1))).as("c"))
    import s.implicits._
    val treeCounts = DyadRanges.map { case (id, a, b) =>
      (id, a, b, prefix(b) - prefix(a))
    }.toDF("range_id", "a_cents", "b_cents", "tree_count")
    val exact = DyadRanges.map { case (id, a, b) =>
      ev.filter(col("c") >= a && col("c") < b)
        .agg(count(lit(1)).as("exact_count"))
        .select(lit(id).as("range_id"), col("exact_count"))
    }.reduce(_ unionByName _)
    treeCounts.join(exact, Seq("range_id"))
      .select("range_id", "a_cents", "b_cents", "tree_count", "exact_count")
      .orderBy("range_id")
  }

  lazy val dyadicRangeSql: String = {
    val levels = (DyadMinLevel until DyadBits)
      .map(l => s"SELECT $l AS level, (c >> $l) AS bucket FROM cl")
      .mkString("\n       |  UNION ALL\n       |  ")
    def prefixSql(y: Long): String =
      if (y >= (1L << DyadBits))
        s"(SELECT CAST(sum(cnt) AS BIGINT) FROM tree WHERE level = ${DyadBits - 1})"
      else {
        val yp = y >> DyadMinLevel
        val terms = (0 until (DyadBits - DyadMinLevel)).flatMap { j =>
          if (((yp >> j) & 1L) == 1L)
            Some(s"coalesce((SELECT cnt FROM tree t WHERE t.level = ${DyadMinLevel + j} " +
              s"AND t.bucket = ${(yp >> j) - 1}), 0)")
          else None
        }
        if (terms.isEmpty) "0" else terms.mkString(" + ")
      }
    val arms = DyadRanges.map { case (id, a, b) =>
      s"""SELECT '$id' AS range_id, $a AS a_cents, $b AS b_cents,
         |  CAST((${prefixSql(b)}) - (${prefixSql(a)}) AS BIGINT) AS tree_count,
         |  (SELECT count(*) FROM cl WHERE c >= $a AND c < $b) AS exact_count"""
        .stripMargin
    }.mkString("\n       |UNION ALL\n       |")
    s"""WITH cl AS MATERIALIZED (
       |  SELECT greatest(0, least(CAST(round(value * 100) AS BIGINT),
       |    ${(1L << DyadBits) - 1})) AS c FROM events),
       |tree AS MATERIALIZED (
       |  SELECT level, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |  $levels) GROUP BY level, bucket)
       |$arms
       |ORDER BY range_id""".stripMargin
  }

  // --- q_ag_dyadic_grouped ------------------------------------------------------
  // PER-GROUP dyadic quantiles — the shape the structure actually runs
  // at 100 TB: one grouped counter tree (groups × ≤ 8,190 integer
  // rows, mergeable by SUM within each group), every group's p50/p90
  // walked top-down over its own subtree. The oracle replays ALL walks
  // simultaneously as ONE WITH RECURSIVE carrying (group, q, x, cum)
  // state — 12 iterations regardless of group count, each step a
  // scalar node lookup. Groups come from the data on both sides (no
  // literal vocabulary); everything is integer-exact.
  private val DyadGroupedQs = Seq(0.5, 0.9)

  def dyadicGrouped(s: SparkSession, d: String): DataFrame = {
    val c = greatest(lit(0L),
      least(round(col("value") * 100).cast("long"), lit((1L << DyadBits) - 1)))
    val tree = Tables.events(s, d)
      .select(col("event_type").as("g"), c.as("c"))
      .select(col("g"), posexplode(array((DyadMinLevel until DyadBits).map(l =>
        shiftright(col("c"), l)): _*)))
      .toDF("g", "idx", "bucket")
      .select(col("g"), (col("idx") + DyadMinLevel).as("level"), col("bucket"))
      .groupBy("g", "level", "bucket").agg(count(lit(1)).as("cnt"))
    val rows = tree.collect()
    require(rows.length <= DyadMaxRows,
      s"grouped dyadic digest ${rows.length} rows exceeds the driver guard")
    val cnt = rows.map(r =>
      (r.getString(0), r.getInt(1).toLong, r.getLong(2)) -> r.getLong(3)).toMap
    val ns = rows.filter(_.getInt(1) == DyadBits - 1)
      .groupBy(_.getString(0)).map { case (g, rs) => g -> rs.map(_.getLong(3)).sum }
    import s.implicits._
    (for {
      g <- ns.keys.toSeq.sorted
      q <- DyadGroupedQs
    } yield {
      val n = ns(g)
      val target = math.ceil(q * n).toLong
      var x = 0L
      var cum = 0L
      var l = DyadBits - 1
      while (l >= DyadMinLevel) {
        val node = cnt.getOrElse((g, l.toLong, x >> l), 0L)
        if (cum + node < target) { cum += node; x += (1L << l) }
        l -= 1
      }
      val bucketN = cnt.getOrElse((g, DyadMinLevel.toLong, x >> DyadMinLevel), 0L)
      (g, q, target, n, x, x + (1L << DyadMinLevel), cum, bucketN,
        cum < target && target <= cum + bucketN)
    }).toDF("g", "q", "target_rank", "n", "lo_cents", "hi_cents",
        "rank_below", "bucket_n", "contains")
      .orderBy("g", "q")
  }

  lazy val dyadicGroupedSql: String = {
    val levels = (DyadMinLevel until DyadBits)
      .map(l => s"SELECT g, $l AS level, (c >> $l) AS bucket FROM cl")
      .mkString("\n       |  UNION ALL\n       |  ")
    val qVals = DyadGroupedQs.map(q => s"($q::DOUBLE)").mkString(", ")
    val steps = DyadBits - DyadMinLevel
    val nd = s"coalesce((SELECT cnt FROM tree t WHERE t.g = w.g " +
      s"AND t.level = ${DyadBits - 1} - w.i " +
      s"AND t.bucket = (w.x >> (${DyadBits - 1} - w.i))), 0)"
    s"""WITH RECURSIVE cl AS MATERIALIZED (
       |  SELECT event_type AS g,
       |    greatest(0, least(CAST(round(value * 100) AS BIGINT),
       |      ${(1L << DyadBits) - 1})) AS c FROM events),
       |tree AS MATERIALIZED (
       |  SELECT g, level, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |  $levels) GROUP BY g, level, bucket),
       |ng AS MATERIALIZED (
       |  SELECT g, CAST(sum(cnt) AS BIGINT) AS n FROM tree
       |  WHERE level = ${DyadBits - 1} GROUP BY g),
       |walk(i, g, q, x, cum, target, n) AS (
       |  SELECT 0, ng.g, qs.q, 0::BIGINT, 0::BIGINT,
       |    CAST(ceil(qs.q * ng.n) AS BIGINT), ng.n
       |  FROM ng, (VALUES $qVals) qs(q)
       |  UNION ALL
       |  SELECT w.i + 1, w.g, w.q,
       |    w.x + CASE WHEN w.cum + $nd < w.target
       |      THEN (1::BIGINT << (${DyadBits - 1} - w.i)) ELSE 0::BIGINT END,
       |    w.cum + CASE WHEN w.cum + $nd < w.target THEN $nd ELSE 0::BIGINT END,
       |    w.target, w.n
       |  FROM walk w WHERE w.i < $steps)
       |SELECT g, q, target AS target_rank, n, x AS lo_cents,
       |  x + ${1L << DyadMinLevel} AS hi_cents, cum AS rank_below,
       |  coalesce((SELECT cnt FROM tree t WHERE t.g = walk.g
       |    AND t.level = $DyadMinLevel
       |    AND t.bucket = (walk.x >> $DyadMinLevel)), 0) AS bucket_n,
       |  (cum < target AND target <= cum + coalesce((SELECT cnt FROM tree t
       |    WHERE t.g = walk.g AND t.level = $DyadMinLevel
       |    AND t.bucket = (walk.x >> $DyadMinLevel)), 0)) AS contains
       |FROM walk WHERE i = $steps
       |ORDER BY g, q""".stripMargin
  }

  // --- q_ag_approx_percentile ---------------------------------------------
  // The OTHER workhorse sketch: approx_percentile (Greenwald–Khanna
  // quantile summary) BOUNDED by its own rank guarantee in-plan. The
  // summary's contract is RANK accuracy — the returned value's rank r
  // satisfies |r − p·n| ≤ ε·n with ε = 1/accuracy — so the audit joins
  // the estimate back to the rows (the sketch side broadcasts, ≤1 row
  // per group) and counts strictly-below / at-or-below: the value's
  // rank interval [lo+1, hi] must intersect [p·n − εn, p·n + εn]. A
  // literal-TRUE DuckDB twin turns any violation into a hash break —
  // the r13 `no_oracle` exemption tightened into a bounded pass (the
  // exact medians themselves are verified by q_ag_exact_quantiles).
  // This is the 100 TB replacement for exact per-group sorts, and the
  // incremental form of any holistic aggregate (sketches merge).
  private val PctAccuracy = 10000

  def approxPercentile(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select("l_returnflag", "l_extendedprice")
    val appx = li.groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(PctAccuracy))
          .as("p50_approx"),
        count(lit(1)).as("n"))
    // ε·n rank window, +1 for the rank-interval rounding at either edge
    val epsN = col("n").cast("double") / PctAccuracy + 1.0
    li.join(broadcast(appx), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        sum(when(col("l_extendedprice") < col("p50_approx"), 1L)
          .otherwise(0L)).as("lo"),
        sum(when(col("l_extendedprice") <= col("p50_approx"), 1L)
          .otherwise(0L)).as("hi"),
        max(col("n")).as("n"))
      .select(col("l_returnflag"), col("n"),
        ((col("lo").cast("double") + 1.0 <= col("n").cast("double") / 2.0 + epsN) &&
          (col("hi").cast("double") >= col("n").cast("double") / 2.0 - epsN))
          .as("within_rank_eps"))
      .orderBy("l_returnflag")
  }

  val approxPercentileSql: String =
    """SELECT l_returnflag, count(*) AS n, true AS within_rank_eps
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // --- q_j6_semijoin ------------------------------------------------------
  // LEFT SEMI: orders with at least one late-shipped line — the membership
  // probe pattern (EXISTS) as a real semi-join, no row duplication.
  def semijoin(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val late = Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("1998-06-01 00:00:00")))
    o.join(late, o("o_orderkey") === late("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val semijoinSql: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
      |WHERE EXISTS (
      |  SELECT 1 FROM lineitem
      |  WHERE l_orderkey = o_orderkey
      |    AND l_shipdate >= TIMESTAMP '1998-06-01 00:00:00')
      |ORDER BY o_orderkey""".stripMargin

  // --- q_j7_outer_join ----------------------------------------------------
  // LEFT OUTER with aggregation-side null handling: every customer with
  // their high-value-order count, INCLUDING customers with none (the rows
  // an inner join silently drops). The dim side drives, the fact side is
  // pre-filtered then right-joined — no full-fact scan survives the
  // filter at scale.
  def outerJoin(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val bigOrders = Tables.orders(s, d).filter(col("o_totalprice") > 250000.0)
    c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_outer")
      .groupBy("c_custkey", "c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_big_orders"))
      .orderBy("c_custkey")
  }

  val outerJoinSql: String =
    """SELECT c_custkey, c_mktsegment, count(o_orderkey) AS n_big_orders
      |FROM customer
      |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 250000.0) o
      |  ON c_custkey = o.o_custkey
      |GROUP BY c_custkey, c_mktsegment
      |ORDER BY c_custkey""".stripMargin

  // --- q_o4_range_frame ---------------------------------------------------
  // RANGE window frame over event time (micros): how many events the same
  // user produced in the trailing hour, per event. The frame operator the
  // bucketed range-join (q_t2) trades against: one shuffle+sort on the
  // key, then an O(n) sliding frame — no candidate pairs at all. Count is
  // integer-exact, so the oracle matches bit-for-bit.
  def rangeFrame(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-3600000000L, 0L)
    Tables.events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("n_last_hour", count(lit(1)).over(w))
      .select("event_id", "user_id", "ts", "n_last_hour")
      .orderBy("event_id")
  }

  val rangeFrameSql: String =
    """SELECT event_id, user_id, ts,
      |  count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour
      |FROM events
      |ORDER BY event_id""".stripMargin

  // --- q_ev_funnel --------------------------------------------------------
  // Sequential funnel (view → click ≤1h → purchase ≤1h): the canonical
  // product-analytics conversion query, and a genuinely order-dependent
  // operator (each stage's window anchors on the PREVIOUS stage's first
  // event, so no single aggregation expresses it). Per user: first view,
  // first click within an hour of it, first purchase within an hour of
  // that; stage = how deep the user got.
  //
  // Scale shape: three hash aggregations and two inner joins, ALL keyed
  // on user_id — one shuffle partitioning reused across every step (no
  // windows, no collected event lists; a hot user costs O(its events)).
  // The left joins assembling the output rows join per-user singletons.
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("view_ts"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("view_ts") &&
        col("ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("click_ts") &&
        col("ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("purchase_ts"),
        (lit(1L) + when(col("click_ts").isNotNull, 1L).otherwise(0L)
          + when(col("purchase_ts").isNotNull, 1L).otherwise(0L)).as("stage"))
      .orderBy("user_id")
  }

  val funnelSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS view_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS click_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click'
      |    AND e.ts > v.view_ts AND e.ts <= v.view_ts + INTERVAL 1 HOUR
      |  GROUP BY e.user_id),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > c.click_ts AND e.ts <= c.click_ts + INTERVAL 1 HOUR
      |  GROUP BY e.user_id)
      |SELECT v.user_id AS user_id, view_ts, click_ts, purchase_ts,
      |  (1 + CASE WHEN click_ts IS NULL THEN 0 ELSE 1 END
      |     + CASE WHEN purchase_ts IS NULL THEN 0 ELSE 1 END)::BIGINT AS stage
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin

  // --- q_ev_funnel_time -----------------------------------------------------
  // TIME-TO-CONVERT percentiles per funnel edge — "how long does the
  // median user take from view to click, and the p90 from click to
  // purchase", the latency companion of the stage-count funnel.
  // Composes the funnel shape with the distributed exact-selection
  // core: advance times are exact integer micros (no float
  // durations), both funnel edges ride ONE selectAtRanks walk as two
  // groups × two ceiling ranks, and the output converts micros to
  // seconds in one double division. The advance window is 24 h —
  // wider than the strict 1 h stage funnel, deliberately: a latency
  // percentile must ADMIT the tail it measures, where the stage
  // funnel's tight window is the conversion-rate definition. Scale:
  // user-bounded joins + the selection core's three bounded passes —
  // no per-group sort, no driver state.
  private def funnelFrame(s: SparkSession, d: String,
                          window: String): DataFrame = {
    val ev = Tables.events(s, d)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("view_ts"))
    val c = ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("ts") > col("view_ts") &&
        col("ts") <= col("view_ts") + expr(s"INTERVAL $window"))
      .groupBy("user_id").agg(min(col("ts")).as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("ts") > col("click_ts") &&
        col("ts") <= col("click_ts") + expr(s"INTERVAL $window"))
      .groupBy("user_id").agg(min(col("ts")).as("purchase_ts"))
    v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
  }

  def funnelTime(s: SparkSession, d: String): DataFrame = {
    val f = funnelFrame(s, d, "24 HOUR")
    val d1 = f.filter(col("click_ts").isNotNull)
      .select(lit("view_to_click").as("g"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("v"))
    val d2 = f.filter(col("purchase_ts").isNotNull)
      .select(lit("click_to_purchase").as("g"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))).as("v"))
    selectAtRanks(d1.unionByName(d2).localCheckpoint(),
      Seq(("p50", 1L, 2L), ("p90", 9L, 10L)))
      .select(col("g").as("stage"), col("quantile"), col("n"),
        col("value_cents").as("micros"),
        (col("value_cents").cast("double") / 1000000.0).as("seconds"))
      .orderBy("stage", "quantile")
  }

  val funnelTimeSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT user_id, min(ts) AS view_ts FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS MATERIALIZED (
      |  SELECT e.user_id, min(e.ts) AS click_ts
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |  WHERE e.event_type = 'click'
      |    AND e.ts > v.view_ts AND e.ts <= v.view_ts + INTERVAL 24 HOUR
      |  GROUP BY e.user_id),
      |p AS MATERIALIZED (
      |  SELECT e.user_id, min(e.ts) AS purchase_ts
      |  FROM events e JOIN c ON e.user_id = c.user_id
      |  WHERE e.event_type = 'purchase'
      |    AND e.ts > c.click_ts AND e.ts <= c.click_ts + INTERVAL 24 HOUR
      |  GROUP BY e.user_id),
      |d AS MATERIALIZED (
      |  SELECT 'view_to_click' AS stage,
      |    epoch_us(c.click_ts) - epoch_us(v.view_ts) AS v
      |  FROM c JOIN v USING (user_id)
      |  UNION ALL
      |  SELECT 'click_to_purchase',
      |    epoch_us(p.purchase_ts) - epoch_us(c.click_ts)
      |  FROM p JOIN c USING (user_id)),
      |ranked AS MATERIALIZED (
      |  SELECT stage, v,
      |    row_number() OVER (PARTITION BY stage ORDER BY v) AS rk,
      |    count(*) OVER (PARTITION BY stage) AS n
      |  FROM d),
      |q(quantile, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10))
      |SELECT stage, quantile, CAST(n AS BIGINT) AS n,
      |  CAST(v AS BIGINT) AS micros, v::DOUBLE / 1000000.0 AS seconds
      |FROM ranked r JOIN q ON r.rk = (r.n * q.num + q.den - 1) // q.den
      |ORDER BY stage, quantile""".stripMargin

  // --- q_ag_incr_merge ------------------------------------------------------
  // INCREMENTAL aggregate maintenance — the rollup counterpart of
  // q_dd_incremental's staged dedup index: a daily per-(user_id, day)
  // summary table is maintained by MERGING a new batch's partial
  // aggregates into the staged base, never by rescanning history. The
  // base partials (events with event_id % 5 != 0) are staged to parquet
  // once; the "late-arriving" batch (event_id % 5 = 0) is aggregated to
  // the same grain and combined with one more groupBy — count merges as
  // sum-of-counts, the money sum as sum-of-partials through the shared
  // DECIMAL accumulator. The late-data split (vs a clean time split)
  // makes the merge load-bearing: most (user_id, day) groups exist on
  // BOTH sides, so a partial that failed to combine would break the
  // hash, not just add rows. At 100 TB the base is a day-partitioned
  // agg table and the merge is a partition-overwrite of touched days:
  // cost O(|batch| + touched groups), never O(|history|). The oracle is
  // the full recompute over all events — equal output is the algebraic
  // point (these aggregates are mergeable; percentile-like ones are not
  // and would need a sketch).
  def incrMerge(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_incr_$tag/daily_base"
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"),
        col("ts").cast("date").as("day"), col("value"))
    def partials(df: DataFrame): DataFrame =
      df.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n"), sum(dec("value")).as("sum_partial"))
    // staged once per SF dir; immutable after publish (cf. LayoutQueries)
    graft.Stage.ensure(root) { tmp =>
      partials(ev.filter(col("event_id") % 5 =!= 0)).write.parquet(tmp)
    }
    val base = Tables.read(s, root)
    val delta = partials(ev.filter(col("event_id") % 5 === 0))
    base.unionByName(delta)
      .groupBy("user_id", "day")
      .agg(sum(col("n")).as("n"), sum(col("sum_partial")).as("sum_cents"))
      .select(col("user_id"), col("day"), col("n"),
        col("sum_cents").cast("double").as("sum_value"))
      .orderBy("user_id", "day")
  }

  val incrMergeSql: String =
    """SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY user_id, CAST(ts AS DATE)
      |ORDER BY user_id, day""".stripMargin

  // --- q_ag_incr_join -------------------------------------------------------
  // Incremental JOIN maintenance — the join-side counterpart of
  // q_ag_incr_merge: a materialized per-order summary of
  // orders ⋈ lineitem is maintained under deltas on BOTH sides by the
  // classic delta-join expansion
  //   ΔM = Δo ⋈ l_base  ∪  o_base ⋈ Δl  ∪  Δo ⋈ Δl
  // aggregated to the view grain and MERGED into the staged base —
  // base ⋈ base is never recomputed. The splits are key-independent on
  // the lineitem side, so most delta contributions land in groups that
  // already exist in the base: a partial that failed to combine breaks
  // the hash, not just the row count. At 100 TB both base tables are
  // bucketed on the join key (see q_ly_bucketed_join), so each delta
  // term is a shuffle-free probe of O(|Δ|) — the maintenance cost is
  // O(|Δ| + touched groups), never O(|history|²). The oracle is the
  // full join recomputed from scratch.
  def incrJoin(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_incr_$tag/join_base"
    val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val oBase = o.filter(col("o_orderkey") % 7 =!= 0)
    val oDelta = o.filter(col("o_orderkey") % 7 === 0)
    val lBase = l.filter((col("l_orderkey") + col("l_linenumber")) % 5 =!= 0)
    val lDelta = l.filter((col("l_orderkey") + col("l_linenumber")) % 5 === 0)
    def joinAgg(or: DataFrame, li: DataFrame): DataFrame =
      or.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(count(lit(1)).as("n_lines"), sum(dec("l_quantity")).as("qty_partial"))
    // staged once per SF dir; immutable after publish (cf. incrMerge)
    graft.Stage.ensure(root) { tmp =>
      joinAgg(oBase, lBase).write.parquet(tmp)
    }
    val base = Tables.read(s, root)
    val delta = joinAgg(oDelta, lBase)
      .unionByName(joinAgg(oBase, lDelta))
      .unionByName(joinAgg(oDelta, lDelta))
    base.unionByName(delta)
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum(col("n_lines")).as("n_lines"),
        sum(col("qty_partial")).cast("double").as("sum_qty"))
      .orderBy("o_orderkey")
  }

  val incrJoinSql: String =
    """SELECT o_orderkey, o_orderdate, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY o_orderkey""".stripMargin

  // --- q_ag_topk_group ------------------------------------------------------
  // Per-group top-k AS AN AGGREGATE (the custom `top_k_by`
  // TypedImperativeAggregate) instead of the window formulation: the
  // window must fully sort every group to keep 3 rows; the aggregate
  // keeps a bounded min-heap of 3 per group — map-side combined, O(k)
  // state, only (group, 3-array) digests reach the shuffle. The struct
  // carries (value, event_id): the unique id both breaks ties
  // deterministically under any partition order AND rides along as the
  // payload. The oracle IS the window formulation — identical output is
  // the point, and PlanSpec asserts the aggregate plan has no Window
  // and no sort below the aggregation.
  private[graft] def topkGroupAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKByFunctions
        .topKBy(struct(col("value"), col("event_id")), 3).as("top"))
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("event_type"), (col("i") + 1).as("rnk"),
        col("t.value").as("value"), col("t.event_id").as("event_id"))

  def topkGroup(s: SparkSession, d: String): DataFrame =
    topkGroupAgg(s, d).orderBy("event_type", "rnk")

  val topkGroupSql: String =
    """SELECT event_type, CAST(rnk AS INT) AS rnk, value, event_id
      |FROM (
      |  SELECT event_type, value, event_id,
      |    row_number() OVER (
      |      PARTITION BY event_type ORDER BY value DESC, event_id DESC) AS rnk
      |  FROM events)
      |WHERE rnk <= 3
      |ORDER BY event_type, rnk""".stripMargin

  // --- q_ag_kmv_sets --------------------------------------------------------
  // K-Minimum-Values sketch (Bar-Yossef et al. 2002, public) — the
  // sketch family's missing piece: HLL estimates cardinality and merges
  // by UNION only; KMV additionally supports INTERSECTION estimates
  // (the overlap question every audience/leakage analysis asks), via
  // the ratio of shared members inside the union sketch. Everything is
  // relational state: a sketch is K rows of (set, h) — the K smallest
  // distinct 48-bit md5 hashes of the member key — so building is one
  // ranked window over distinct (set, h), merging is "K smallest of the
  // union of sketch ROWS" (raw data never re-read), and the estimator
  // (K−1)·M/h_K is one exact-int-to-double division. Per event-type
  // user sets: per-set rows carry the KMV estimate next to the exact
  // distinct count, per-pair rows the intersection estimate next to the
  // exact overlap — accuracy is part of the verified output, not a
  // claim. A sketch smaller than K IS the exact set (standard KMV
  // convention; estimate = its size). At 100 TB the sketches are
  // K-row tables per set: build once at ingest, answer any pairwise
  // overlap from K·|sets| rows.
  private val KmvK = 64
  private val KmvM = 281474976710656.0 // 2^48, the hash space

  def kmvSets(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val estConst = (KmvK - 1).toDouble * KmvM
    val ev = Tables.events(s, d)
      .select(col("event_type").as("t"), col("user_id").as("u")).distinct()
    val hashed = ev
      .select(col("t"), col("u"), Hashes.md5Int48(col("u").cast("string")).as("h"))
      .localCheckpoint() // consumed by sketch, exact counts, and overlap
    val wk = Window.partitionBy("t").orderBy("h")
    val sketch = hashed.select(col("t"), col("h")).distinct()
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= KmvK)
      .localCheckpoint() // the K-row-per-set artifact everything reads
    def estOf(cnt: Column, kth: Column): Column =
      when(cnt < KmvK, cnt.cast("double"))
        .otherwise(lit(estConst) / kth.cast("double"))
    // Every sketch-derived side below is tiny BY CONSTRUCTION (K rows
    // per set / one row per set or pair) at ANY corpus scale — the
    // whole point of the sketch — so each gets an explicit broadcast:
    // left to AQE the demotion happened at runtime and the fingerprint
    // flipped an exchange run to run (scheduling race on the
    // already-submitted state-side exchange). Only the exact-count
    // joins against `hashed` (data-grain) keep their shuffles.
    val perSet = sketch.groupBy("t")
      .agg(count(lit(1)).as("n_sketch"), max(when(col("rk") === KmvK, col("h"))).as("kth"))
      .join(broadcast(hashed.groupBy("t").agg(countDistinct(col("u")).as("exact"))), "t")
      .select(lit("set").as("kind"), col("t").as("t_a"), lit("").as("t_b"),
        col("n_sketch"), estOf(col("n_sketch"), col("kth")).as("est"),
        col("exact"))
    // pairwise: union-sketch from sketch ROWS only, overlap ratio inside
    // it; one row set per ordered pair off the distinct type list
    val types = sketch.select(col("t")).distinct()
    val tp = types.select(col("t").as("t_a"))
      .crossJoin(types.select(col("t").as("t_b")))
      .filter(col("t_a") < col("t_b"))
    val unionRows = tp
      .join(broadcast(sketch.select(col("t").as("t_a"), col("h").as("ha"))), "t_a")
      .select(col("t_a"), col("t_b"), col("ha").as("h"))
      .union(tp
        .join(broadcast(sketch.select(col("t").as("t_b"), col("h").as("hb"))), "t_b")
        .select(col("t_a"), col("t_b"), col("hb").as("h")))
      .distinct()
    val wp = Window.partitionBy("t_a", "t_b").orderBy("h")
    val unionSketch = unionRows
      .withColumn("rk", row_number().over(wp))
      .filter(col("rk") <= KmvK)
    val inA = sketch.select(col("t").as("t_a"), col("h"), lit(1).as("in_a"))
    val inB = sketch.select(col("t").as("t_b"), col("h"), lit(1).as("in_b"))
    val marked = unionSketch
      .join(broadcast(inA), Seq("t_a", "h"), "left")
      .join(broadcast(inB), Seq("t_b", "h"), "left")
    val exactPair = hashed.select(col("t").as("t_a"), col("u"))
      .join(hashed.select(col("t").as("t_b"), col("u")), Seq("u"))
      .filter(col("t_a") < col("t_b"))
      .groupBy("t_a", "t_b").agg(countDistinct(col("u")).as("exact"))
    val perPair = marked.groupBy("t_a", "t_b")
      .agg(count(lit(1)).as("n_sketch"),
        max(when(col("rk") === KmvK, col("h"))).as("kth"),
        sum(col("in_a") * col("in_b")).as("k_inter"))
      // exactPair's OUTPUT is pair-grain (tiny) even though its
      // derivation shuffles data-grain rows — broadcast the result
      .join(broadcast(exactPair), Seq("t_a", "t_b"))
      .select(lit("pair").as("kind"), col("t_a"), col("t_b"), col("n_sketch"),
        // Ratio denominator is the UNION-SKETCH size, capped at K: when
        // |A∪B| < K the union sketch IS the exact union (est_union =
        // n_sketch), so the estimate must be exactly k_inter — dividing
        // by the constant K would undercount by n_sketch/K.
        ((coalesce(col("k_inter"), lit(0L)).cast("double") /
          least(col("n_sketch"), lit(KmvK.toLong)).cast("double")) *
          estOf(col("n_sketch"), col("kth"))).as("est"),
        col("exact"))
    perSet.unionByName(perPair).orderBy("kind", "t_a", "t_b")
  }

  val kmvSetsSql: String = {
    val estConst = (KmvK - 1).toDouble * KmvM
    s"""WITH ev AS MATERIALIZED (
       |  SELECT DISTINCT event_type AS t, user_id AS u FROM events),
       |hashed AS MATERIALIZED (
       |  SELECT t, u, ${Hashes.md5Int48Sql("u::VARCHAR")} AS h FROM ev),
       |sketch AS MATERIALIZED (
       |  SELECT t, h, rk FROM (
       |    SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rk
       |    FROM (SELECT DISTINCT t, h FROM hashed))
       |  WHERE rk <= $KmvK),
       |per_set AS MATERIALIZED (
       |  SELECT 'set' AS kind, sk.t AS t_a, '' AS t_b,
       |    sk.n_sketch,
       |    CASE WHEN sk.n_sketch < $KmvK THEN CAST(sk.n_sketch AS DOUBLE)
       |         ELSE $estConst / CAST(sk.kth AS DOUBLE) END AS est,
       |    ex.exact
       |  FROM (SELECT t, count(*) AS n_sketch,
       |          max(CASE WHEN rk = $KmvK THEN h END) AS kth
       |        FROM sketch GROUP BY t) sk
       |  JOIN (SELECT t, count(DISTINCT u) AS exact FROM hashed GROUP BY t) ex
       |    USING (t)),
       |types AS MATERIALIZED (SELECT DISTINCT t FROM sketch),
       |tp AS MATERIALIZED (
       |  SELECT a.t AS t_a, b.t AS t_b FROM types a, types b WHERE a.t < b.t),
       |union_rows AS MATERIALIZED (
       |  SELECT DISTINCT t_a, t_b, h FROM (
       |    SELECT tp.t_a, tp.t_b, s.h FROM tp JOIN sketch s ON s.t = tp.t_a
       |    UNION ALL
       |    SELECT tp.t_a, tp.t_b, s.h FROM tp JOIN sketch s ON s.t = tp.t_b)),
       |union_sketch AS MATERIALIZED (
       |  SELECT t_a, t_b, h, rk FROM (
       |    SELECT t_a, t_b, h,
       |      row_number() OVER (PARTITION BY t_a, t_b ORDER BY h) AS rk
       |    FROM union_rows)
       |  WHERE rk <= $KmvK),
       |marked AS MATERIALIZED (
       |  SELECT us.t_a, us.t_b, us.h, us.rk,
       |    CASE WHEN sa.h IS NULL THEN NULL ELSE 1 END AS in_a,
       |    CASE WHEN sb.h IS NULL THEN NULL ELSE 1 END AS in_b
       |  FROM union_sketch us
       |  LEFT JOIN sketch sa ON sa.t = us.t_a AND sa.h = us.h
       |  LEFT JOIN sketch sb ON sb.t = us.t_b AND sb.h = us.h),
       |exact_pair AS MATERIALIZED (
       |  SELECT a.t AS t_a, b.t AS t_b, count(DISTINCT a.u) AS exact
       |  FROM hashed a JOIN hashed b ON a.u = b.u AND a.t < b.t
       |  GROUP BY 1, 2),
       |per_pair AS MATERIALIZED (
       |  SELECT 'pair' AS kind, m.t_a, m.t_b, m.n_sketch,
       |    (CAST(COALESCE(m.k_inter, 0) AS DOUBLE) /
       CAST(least(m.n_sketch, $KmvK) AS DOUBLE)) *
       |      (CASE WHEN m.n_sketch < $KmvK THEN CAST(m.n_sketch AS DOUBLE)
       |            ELSE $estConst / CAST(m.kth AS DOUBLE) END) AS est,
       |    ep.exact
       |  FROM (SELECT t_a, t_b, count(*) AS n_sketch,
       |          max(CASE WHEN rk = $KmvK THEN h END) AS kth,
       |          sum(in_a * in_b) AS k_inter
       |        FROM marked GROUP BY t_a, t_b) m
       |  JOIN exact_pair ep USING (t_a, t_b))
       |SELECT kind, t_a, t_b, n_sketch, est, exact FROM per_set
       |UNION ALL
       |SELECT kind, t_a, t_b, n_sketch, est, exact FROM per_pair
       |ORDER BY kind, t_a, t_b""".stripMargin
  }

  // --- q_ag_exact_median ----------------------------------------------------
  // EXACT per-group median WITHOUT a per-group sort — distributed
  // selection (the classic two-phase histogram narrowing): a full sort
  // of 100 TB to read one order statistic is the canonical anti-plan,
  // and approx_percentile trades away exactness. Three bounded passes,
  // ALL distributed (no .collect() between input and result — the
  // round-10 driver prefix-sum walk is gone): (A) per-group
  // count/min/max; (B) a ≤4098-bucket histogram per group whose
  // cumulative counts come from a window over (g ORDER BY b) and whose
  // target bucket — the one holding the k-th value (k = (n+1)/2, the
  // lower median) — is selected by FILTER on the crossing condition,
  // so group cardinality can be millions without any driver state;
  // (C) a scan filtered to that bucket — expected n/4096 rows per
  // group — ranks the remainder with a partition-local window. Bucket
  // width 1 means every bucket is a single value, so the median is the
  // bucket id itself and pass C is skipped (also the degenerate
  // all-equal guard). Money routes through DECIMAL(18,2)·100 cents so
  // bucket ids are exact integers in both engines. The ORACLE is the
  // sort it replaces: a full row_number() ranking picking
  // rk = (n+1)//2.
  private val MedianBuckets = 4096L

  def exactMedian(s: SparkSession, d: String): DataFrame =
    exactMedianOf(s, Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("v")))

  /** Distributed selection core over any (g: string, v: bigint) frame:
    * for every group and every (label, num, den) in `spec`, the exact
    * k-th smallest v with k = ⌈gn·num/den⌉ = (gn·num + den − 1) div den
    * — with NO driver-side state. The histogram prefix-sum that locates
    * each rank's bucket is a window over (g ORDER BY b) (≤ ~4098 rows
    * per group — value-domain-bounded, never data-proportional), the
    * target bucket is selected by FILTER on the crossing condition
    * (cum ≥ k ∧ cum − c < k), and the residual rank resolves in a
    * slice scan covering expected n/4096 rows per group. Buckets are
    * ALIGNED AT ZERO — b = floorDiv(v, w), wrap-safe truncating
    * divide-minus-one — so no bucket-BOUND arithmetic exists to
    * overflow at Long extremes; pass C re-derives membership by
    * recomputing each row's bucket instead of comparing against
    * materialized [lo, hi] bounds (which wrap for v near
    * Long.MinValue). Width comes from the per-group range in
    * DECIMAL(38,0) on the O(groups) stats frame only (never per
    * datum), giving ≤ 4098 aligned buckets per group over ANY Long
    * domain. Width 1 needs no special arm: bucket id == value there,
    * so pass C's residual rank trivially returns the bucket id —
    * keeping the target frame single-consumer (no checkpoint, no
    * eager job; the r11 two-arm union pinned it for nothing and the
    * extra job per selection was most of q_t14_mad's wall time).
    * Output columns: (g, quantile, n, value_cents).
    */
  private[graft] def selectAtRanks(
      base: DataFrame, spec: Seq[(String, Long, Long)]): DataFrame = {
    import base.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val specDf = broadcast(spec.toDF("quantile", "num", "den"))
    val stats = base.groupBy("g")
      .agg(count(lit(1)).as("gn"), min("v").as("glo"), max("v").as("ghi"))
      .withColumn("gw", expr(
        s"""CAST((CAST(ghi AS DECIMAL(38,0)) - CAST(glo AS DECIMAL(38,0))
           | + $MedianBuckets) DIV $MedianBuckets AS BIGINT)"""
          .stripMargin.replace("\n", "")))
      .select("g", "gn", "gw")
    // wrap-safe floorDiv(v, gw): truncating divide, minus one when the
    // remainder is negative (gw >= 1 always, so no division overflow)
    val bucketOf =
      expr("v DIV gw - (CASE WHEN v % gw < 0 THEN 1 ELSE 0 END)")
    val hist = base.join(stats.select("g", "gw"), "g")
      .select(col("g"), bucketOf.as("b"))
      .groupBy("g", "b").agg(count(lit(1)).as("c"))
    val wcum = Window.partitionBy("g").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val targets = hist
      .withColumn("cum", sum("c").over(wcum))
      .join(stats, "g")
      .crossJoin(specDf) // |spec| rows — every rank rides one walk
      .withColumn("k", expr("(gn * num + den - 1) DIV den"))
      .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
      .select(col("g"), col("quantile"), col("gn"), col("gw"),
        col("b").as("bstar"), (col("k") - col("cum") + col("c")).as("gr"))
    val wrk = Window.partitionBy("g", "quantile").orderBy("v")
    base.join(targets, "g")
      .filter(bucketOf === col("bstar"))
      .withColumn("rk", row_number().over(wrk))
      .filter(col("rk") === col("gr"))
      .select(col("g"), col("quantile"), col("gn").as("n"),
        col("v").as("value_cents"))
  }

  /** Selection core over any (g: string, v: bigint) frame — the lower
    * median is rank ⌈n/2⌉, i.e. the (label, 1, 2) spec entry. */
  def exactMedianOf(s: SparkSession, input: DataFrame): DataFrame =
    exactMedianOfPinned(input.localCheckpoint()) // 3 bounded passes read it

  /** exactMedianOf for inputs the CALLER already pinned (q_t14_mad
    * checkpoints its daily/dev frames for its own reuse — a second
    * checkpoint of a projection of a pinned frame is a pure extra
    * materialization job, and at two selections per query that
    * overhead dominated the whole screen). */
  def exactMedianOfPinned(base: DataFrame): DataFrame =
    selectAtRanks(base, Seq(("m", 1L, 2L)))
      .select(col("g"), col("n"),
        col("value_cents").as("median_cents"),
        (col("value_cents").cast("double") / 100.0).as("median"))
      .orderBy("g")

  // --- q_ag_exact_quantiles -------------------------------------------------
  // The selection machinery generalized: p25/p50/p75/p95/p99 per group
  // from ONE histogram pass — all five ceiling-ranks k = ⌈p·n⌉ locate
  // their buckets in the same windowed prefix-sum (the spec cross-join
  // fans each histogram row out 5×, bounded), and a single pass-C scan
  // covers every (group, quantile) target bucket via one join.
  // Exactly the plan shape a percentile dashboard needs at 100 TB:
  // the cost is ~one q_ag_exact_median regardless of how many
  // quantiles ride along. Ranks are exact integer arithmetic
  // ((n·num + den − 1) div den); tail quantiles (p95/p99) hit sparse
  // histogram buckets, exercising small pass-C slices.
  private val QuantileSpec: Seq[(String, Long, Long)] = Seq(
    ("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L),
    ("p95", 19L, 20L), ("p99", 99L, 100L))

  def exactQuantiles(s: SparkSession, d: String): DataFrame = {
    val base = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("v"))
      .localCheckpoint()
    selectAtRanks(base, QuantileSpec)
      .select(col("g"), col("quantile"), col("n"), col("value_cents"),
        (col("value_cents").cast("double") / 100.0).as("value"))
      .orderBy("g", "quantile")
  }

  val exactQuantilesSql: String = {
    val vals = QuantileSpec
      .map { case (l, n, d2) => s"('$l', $n, $d2)" }.mkString(", ")
    s"""WITH b AS MATERIALIZED (
       |  SELECT l_returnflag AS g,
       |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
       |  FROM lineitem),
       |r AS MATERIALIZED (
       |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
       |    count(*) OVER (PARTITION BY g) AS n
       |  FROM b),
       |q(label, num, den) AS (VALUES $vals)
       |SELECT g, label AS quantile, n, v AS value_cents,
       |  CAST(v AS DOUBLE) / 100.0 AS value
       |FROM r JOIN q ON rk = (n * num + den - 1) // den
       |ORDER BY g, quantile""".stripMargin
  }

  val exactMedianSql: String =
    """WITH b AS (
      |  SELECT l_returnflag AS g,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM lineitem),
      |r AS (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
      |    count(*) OVER (PARTITION BY g) AS n
      |  FROM b)
      |SELECT g, n, v AS median_cents, CAST(v AS DOUBLE) / 100.0 AS median
      |FROM r WHERE rk = (n + 1) // 2
      |ORDER BY g""".stripMargin

  // --- q_ev_attribution -----------------------------------------------------
  // LINEAR MULTI-TOUCH ATTRIBUTION — every view/click in the 24 h
  // before a purchase shares the conversion credit equally (the
  // standard marketing-analytics model beyond q_t1_asof_join's
  // last-touch shape). Per purchase: count the same-user touches in
  // the lookback, give each touch floor(1e6 / n) micro-credits (exact
  // integer division — deterministic; the ≤ n−1 micro-credit remainder
  // per purchase is documented rounding, never float drift), then roll
  // credit up by touch type. The join is user-equi + time-band — the
  // per-user event list is human-scale, so the band condition runs as
  // a residual filter on the user-key hash join; nothing quadratic in
  // the corpus. Output: per touch type, touches credited and total
  // credit in conversions.
  def attribution(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("ts").as("touch_ts"), col("event_id").as("touch_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val attributed = purchases.join(touches, "user_id")
      .filter(col("touch_ts") <= col("p_ts") &&
        col("touch_ts") > col("p_ts") - expr("INTERVAL 24 HOURS"))
    val perPurchase = attributed.groupBy("p_id")
      .agg(count(lit(1)).as("n_touch"))
    attributed.join(perPurchase, "p_id")
      .select(col("touch_type"), col("touch_id"),
        expr("1000000 DIV n_touch").as("credit_fixed"))
      .groupBy("touch_type")
      .agg(count(lit(1)).as("n_credited"),
        countDistinct(col("touch_id")).as("n_touches"),
        sum(col("credit_fixed")).as("credit_micros"))
      .select(col("touch_type"), col("n_credited"), col("n_touches"),
        col("credit_micros"),
        (col("credit_micros").cast("double") / 1000000.0).as("conversions"))
      .orderBy("touch_type")
  }

  val attributionSql: String =
    """WITH touches AS MATERIALIZED (
      |  SELECT user_id, event_type AS touch_type, ts AS touch_ts,
      |    event_id AS touch_id
      |  FROM events WHERE event_type IN ('view', 'click')),
      |purchases AS MATERIALIZED (
      |  SELECT user_id, ts AS p_ts, event_id AS p_id
      |  FROM events WHERE event_type = 'purchase'),
      |attributed AS MATERIALIZED (
      |  SELECT p.p_id, t.touch_type, t.touch_id
      |  FROM purchases p JOIN touches t USING (user_id)
      |  WHERE t.touch_ts <= p.p_ts
      |    AND t.touch_ts > p.p_ts - INTERVAL 24 HOURS),
      |per_p AS MATERIALIZED (
      |  SELECT p_id, count(*) AS n_touch FROM attributed GROUP BY p_id)
      |SELECT a.touch_type,
      |  count(*) AS n_credited,
      |  count(DISTINCT a.touch_id) AS n_touches,
      |  CAST(sum(1000000 // pp.n_touch) AS BIGINT) AS credit_micros,
      |  CAST(sum(1000000 // pp.n_touch) AS BIGINT)::DOUBLE / 1000000.0
      |    AS conversions
      |FROM attributed a JOIN per_p pp USING (p_id)
      |GROUP BY a.touch_type
      |ORDER BY touch_type""".stripMargin

  // --- q_ag_bootstrap -------------------------------------------------------
  // DETERMINISTIC POISSON-BOOTSTRAP confidence intervals for the
  // per-type mean value — the error bar every "metric moved" claim
  // needs, computed without rand(): replica b reweights each row by a
  // Poisson(1) draw taken from the inverse CDF of a per-(row, b)
  // uniform (the standard streaming-bootstrap reweighting — sampling
  // WITH replacement becomes independent per-row counts, which is the
  // only formulation that scales and the only one an oracle can
  // replay bit-for-bit). The uniform is derived from ONE md5 per row
  // plus a cheap integer substream mix per replica: the first cut
  // hashed (event_id ∥ b) with md5 per replica, which made this the
  // suite's most expensive query (64 full md5s per input row for what
  // is one bit-depth of entropy). Now: h48 = md5Int48(event_id) once,
  // then TWO parallel 31-bit streams — A seeded from h48's low 31
  // bits, B from its high 17 (spread by BootHiK so the seed stays
  // < 2^31 without wraparound) — each run through
  // LCG(LCG(seed) ⊞ midsquare), combined as a 62-bit word and
  // truncated to 53 bits so the BIGINT→DOUBLE cast is exact in both
  // engines. The PAIR of seeds is injective in h48 (low31 fixes seed
  // A, hi17 fixes seed B), so distinct rows get distinct substream
  // families — a single 31-bit fold would give ~2^-31 cross-row
  // collisions where two rows draw bit-identical uniforms across ALL
  // 64 replicas (perfectly correlated weights silently narrowing the
  // CI at 100 TB row counts). The squaring is load-bearing: a purely
  // affine chain would make the 64 per-row uniforms an arithmetic
  // progression of each other (affine maps preserve differences mod
  // M), i.e. rotation sampling, not 64 decorrelated replicas. All ops
  // are + * % and integer-div on values provably < 2^62, so DuckDB's
  // checked BIGINT arithmetic replays the stream bit-for-bit.
  // Replica means are exact-integer weighted cent sums divided once in
  // double space; the CI is the ceiling-rank 2.5%/97.5% order
  // statistics of the B=64 replica means (rank window over a
  // 64-row-per-type digest, b tie-break). Scale: the md5 is once per
  // row pre-explode, the explode is scan-side ×B, the aggregation is
  // map-side-combinable to (type, b) digests — B bounds everything
  // after.
  private val BootB = 64
  private val BootM = 2147483648L // 2^31: per-stream state; a*s < 2^62 stays exact
  private val BootA = 1103515245L // classic LCG multiplier (< 2^31)
  private val BootC = 12345L
  private val BootC2 = 54321L // B-stream increment (decouples the two streams)
  private val BootBMix = 1327217885L // odd 31-bit golden-ratio-ish b stride
  private val BootBMix2 = 1812433253L % BootM // odd b stride for the B stream
  // High-17-bit spread for the B-stream seed: hi17 * BootHiK < 2^31 for
  // all hi17 < 2^17 (no wraparound), so distinct hi17 → distinct seed.
  private val BootHiK = 16381L
  // P(Pois(1) ≤ k) thresholds, k = 0..5; draws cap at 6
  private val PoisCdf: Seq[Double] = {
    val lam = 1.0
    val probs = Iterator.iterate((0, math.exp(-lam))) { case (k, p) =>
      (k + 1, p * lam / (k + 1)) }.take(6).map(_._2).toSeq
    probs.scanLeft(0.0)(_ + _).tail
  }

  def bootstrap(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.events(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        Hashes.md5Int48(col("event_id").cast("string")).as("h48"))
    // Substream mix (see header): stream A is seeded from h48's low 31
    // bits, stream B from its high 17 — the seed pair is injective in
    // h48 — and each stream runs two LCG rounds bracketing a
    // mid-square step so replicas are not affine images of each other.
    val M = lit(BootM)
    val s0a = (col("h48") % M + col("b") * lit(BootBMix)) % M
    val s0b = (expr(s"h48 div $BootM") * lit(BootHiK)
      + col("b") * lit(BootBMix2)) % M
    val s1a = (lit(BootA) * s0a + lit(BootC)) % M
    val s1b = (lit(BootA) * s0b + lit(BootC2)) % M
    val s2a = (lit(BootA) * ((col("s1a") + expr(s"(s1a * s1a) div 32768") % M) % M)
      + lit(BootC)) % M
    val s2b = (lit(BootA) * ((col("s1b") + expr(s"(s1b * s1b) div 32768") % M) % M)
      + lit(BootC2)) % M
    // 62-bit combine, truncated to 53 bits: the double cast is exact.
    val u = expr(s"(s2a * $BootM + s2b) div 512").cast("double") /
      lit(9007199254740992.0) // 2^53
    val weighted = base
      .withColumn("b", explode(sequence(lit(0), lit(BootB - 1))))
      .withColumn("s1a", s1a)
      .withColumn("s1b", s1b)
      .withColumn("s2a", s2a)
      .withColumn("s2b", s2b)
      .withColumn("w", PoisCdf.zipWithIndex.foldRight(lit(6L): org.apache.spark.sql.Column) {
        case ((t, k), rest) => when(u < lit(t), lit(k.toLong)).otherwise(rest)
      })
    val reps = weighted.groupBy("event_type", "b")
      .agg(sum(col("w") * col("cents")).as("wc"), sum(col("w")).as("wn"))
      .select(col("event_type"), col("b"),
        (col("wc").cast("double") / col("wn").cast("double") / 100.0).as("m"))
    val wr = Window.partitionBy("event_type").orderBy(col("m"), col("b"))
    val ranked = reps.withColumn("rk", row_number().over(wr))
    val loRk = math.ceil(0.025 * BootB).toInt // 2
    val hiRk = math.ceil(0.975 * BootB).toInt // 63
    val ci = ranked.filter(col("rk") === loRk || col("rk") === hiRk)
      .groupBy("event_type")
      .agg(min(when(col("rk") === loRk, col("m"))).as("ci_lo"),
        min(when(col("rk") === hiRk, col("m"))).as("ci_hi"))
    val full = base.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"))
      .select(col("event_type"), col("n"),
        (col("sc").cast("double") / col("n").cast("double") / 100.0).as("mean_value"))
    full.join(ci, "event_type")
      .select(col("event_type"), col("n"), col("mean_value"),
        col("ci_lo"), col("ci_hi"))
      .orderBy("event_type")
  }

  lazy val bootstrapSql: String = {
    val cdf = PoisCdf.zipWithIndex
      .map { case (t, k) => s"WHEN u < CAST(${t} AS DOUBLE) THEN $k" }
      .mkString("\n      ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT event_type,
       |    CAST(round(value * 100) AS BIGINT) AS cents,
       |    ${Hashes.md5Int48Sql("event_id::VARCHAR")} AS h48
       |  FROM events),
       |seeded AS MATERIALIZED (
       |  SELECT event_type, cents, b,
       |    ($BootA * ((h48 % $BootM + b * $BootBMix) % $BootM)
       |      + $BootC) % $BootM AS s1a,
       |    ($BootA * (((h48 // $BootM) * $BootHiK + b * $BootBMix2) % $BootM)
       |      + $BootC2) % $BootM AS s1b
       |  FROM base, unnest(generate_series(0, ${BootB - 1})) AS g(b)),
       |drawn AS MATERIALIZED (
       |  SELECT event_type, cents, b,
       |    (((($BootA * ((s1a + (s1a * s1a) // 32768 % $BootM) % $BootM)
       |        + $BootC) % $BootM) * $BootM
       |      + ($BootA * ((s1b + (s1b * s1b) // 32768 % $BootM) % $BootM)
       |        + $BootC2) % $BootM) // 512)::DOUBLE
       |      / CAST(9007199254740992.0 AS DOUBLE) AS u
       |  FROM seeded),
       |weighted AS MATERIALIZED (
       |  SELECT event_type, cents, b,
       |    CAST(CASE $cdf ELSE 6 END AS BIGINT) AS w
       |  FROM drawn),
       |reps AS MATERIALIZED (
       |  SELECT event_type, b,
       |    CAST(sum(w * cents) AS BIGINT)::DOUBLE
       |      / CAST(sum(w) AS BIGINT)::DOUBLE / 100.0 AS m
       |  FROM weighted GROUP BY 1, 2),
       |ranked AS MATERIALIZED (
       |  SELECT event_type, m, row_number() OVER (
       |    PARTITION BY event_type ORDER BY m, b) AS rk
       |  FROM reps),
       |ci AS MATERIALIZED (
       |  SELECT event_type,
       |    min(CASE WHEN rk = ${math.ceil(0.025 * BootB).toInt} THEN m END) AS ci_lo,
       |    min(CASE WHEN rk = ${math.ceil(0.975 * BootB).toInt} THEN m END) AS ci_hi
       |  FROM ranked GROUP BY 1)
       |SELECT b.event_type, count(*) AS n,
       |  CAST(sum(b.cents) AS BIGINT)::DOUBLE / count(*)::DOUBLE / 100.0
       |    AS mean_value,
       |  min(ci.ci_lo) AS ci_lo, min(ci.ci_hi) AS ci_hi
       |FROM base b JOIN ci USING (event_type)
       |GROUP BY b.event_type
       |ORDER BY event_type""".stripMargin
  }

  // --- q_ag_krippendorff ------------------------------------------------------
  // KRIPPENDORFF'S ALPHA (nominal) — the inter-annotator agreement
  // statistic labeling pipelines actually need: unlike Cohen's kappa
  // (q_tx_kappa, exactly two complete raters) it handles ANY number of
  // raters AND missing ratings — the normal state of a labeling queue.
  // Raters here: the true lang column, the langid argmax, and a
  // "lazy annotator" scoring only the first 120 chars who abstains on
  // every third document (the missing-data case alpha exists for).
  // Arithmetic is EXACT end to end: per unit u with m_u ratings, the
  // disagreeing ordered coincidence mass is d_u/(m_u−1) with
  // d_u = m_u² − Σ_c cnt_{u,c}² — m_u ∈ {2,3} makes 2·d_u/(m_u−1) an
  // integer, so the observed-disagreement numerator S2 sums exactly;
  // the expected side is n² − Σ_c n_c² over integer marginals; alpha
  // = 1 − (n−1)·S2 / (2·(n² − Σn_c²)) — ONE division of exact
  // DECIMAL(38,0) products. Scale: unit-grain aggregation → label
  // digest; nothing wide.
  def krippendorff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val r1 = docs.select(col("doc_id"), col("lang").as("label"))
    val r2 = docs.select(col("doc_id"),
      TextAnalysis.langIdPred(col("text")).as("label"))
    val r3 = docs.filter(col("doc_id") % 3 =!= 0)
      .select(col("doc_id"),
        TextAnalysis.langIdPred(substring(col("text"), 1, 120)).as("label"))
    val ratings = r1.unionAll(r2).unionAll(r3).localCheckpoint()
    val perCell = ratings.groupBy("doc_id", "label").agg(count(lit(1)).as("c"))
    val perUnit = perCell.groupBy("doc_id")
      .agg(sum(col("c")).as("m"), sum(col("c") * col("c")).as("sumsq"))
      .select(col("m"),
        (col("m") * col("m") - col("sumsq")).as("dis"))
      .select(col("m"),
        when(col("m") === 2, col("dis") * 2).otherwise(col("dis")).as("s2u"))
    val obs = perUnit.agg(count(lit(1)).as("n_units"),
      sum(col("m")).cast("long").as("n"),
      sum(col("s2u")).cast("long").as("s2"))
    val marg = perCell.groupBy("label").agg(sum(col("c")).as("n_c"))
      // cast BEFORE the square (n_c is rating-count grain; long×long
      // overflows under ANSI exactly where the decimal matters)
      .agg(sum(col("n_c").cast("decimal(38,0)") * col("n_c")).as("sum_nc2"))
    obs.crossJoin(broadcast(marg))
      .select(col("n_units"), col("n"), col("s2"),
        ((col("n").cast("decimal(38,0)") * col("n")) - col("sum_nc2"))
          .cast("long").as("de"),
        (lit(1.0) -
          ((col("n") - 1).cast("decimal(38,0)") * col("s2")).cast("double") /
            (lit(2.0) *
              ((col("n").cast("decimal(38,0)") * col("n")) - col("sum_nc2"))
                .cast("double"))).as("alpha"))
  }

  lazy val krippendorffSql: String = {
    def occ(c: String, p: String) =
      s"(length($c) - length(replace($c, '$p', ''))) // ${p.length}"
    def pred(c: String) = "list_max([" + TextAnalysis.markers.map {
      case (lang, pats) =>
        s"{'score': ${pats.map(p => occ(c, p)).mkString(" + ")}, 'lang': '$lang'}"
    }.mkString(", ") + s"]).lang"
    s"""WITH ratings AS MATERIALIZED (
       |  SELECT doc_id, lang AS label FROM documents
       |  UNION ALL SELECT doc_id, ${pred("text")} FROM documents
       |  UNION ALL SELECT doc_id, ${pred("substr(text, 1, 120)")}
       |    FROM documents WHERE doc_id % 3 <> 0),
       |per_cell AS MATERIALIZED (
       |  SELECT doc_id, label, CAST(count(*) AS BIGINT) AS c
       |  FROM ratings GROUP BY 1, 2),
       |per_unit AS MATERIALIZED (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS m,
       |    CAST(sum(c * c) AS BIGINT) AS sumsq
       |  FROM per_cell GROUP BY 1),
       |obs AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n_units,
       |    CAST(sum(m) AS BIGINT) AS n,
       |    CAST(sum(CASE WHEN m = 2 THEN 2 * (m * m - sumsq)
       |             ELSE m * m - sumsq END) AS BIGINT) AS s2
       |  FROM per_unit),
       |marg AS MATERIALIZED (
       |  SELECT sum(CAST(n_c AS DECIMAL(38,0)) * n_c) AS sum_nc2
       |  FROM (SELECT label, CAST(sum(c) AS BIGINT) AS n_c
       |        FROM per_cell GROUP BY 1))
       |SELECT n_units, n, s2,
       |  CAST(CAST(n AS DECIMAL(38,0)) * n - sum_nc2 AS BIGINT) AS de,
       |  1.0 - CAST(CAST(n - 1 AS DECIMAL(38,0)) * s2 AS DOUBLE)
       |    / (2.0 * CAST(CAST(n AS DECIMAL(38,0)) * n - sum_nc2 AS DOUBLE))
       |    AS alpha
       |FROM obs CROSS JOIN marg""".stripMargin
  }

  // --- q_ag_power -------------------------------------------------------------
  // SAMPLE-SIZE / POWER CALCULATOR — the experiment-design table that
  // answers "how many users per arm to detect a 5% lift at 80% power,
  // α = 0.05" from the MEASURED per-type value variance:
  // n = 2(z_{α/2} + z_β)²σ²/δ², δ = 5% of the mean. The planning
  // companion of q_ag_ab_ztest (that one judges a finished experiment;
  // this one sizes the next). Moments are exact BIGINTs (the ttest
  // discipline: n, Σc, Σc² in cents); the z constants are literals
  // both engines parse to the same doubles; every double op has one
  // fixed operand order, so the required-n integers match exactly.
  // Scale: one map-side-combinable moment aggregation, 5-row digest.
  private val ZAlpha = 1.959963984540054 // z_{0.975}
  private val ZBeta = 0.8416212335729143 // z_{0.80}

  def power(s: SparkSession, d: String): DataFrame = {
    val m = Tables.events(s, d)
      .select(col("event_type"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
    val varC = (col("n").cast("decimal(38,0)") * col("q") -
      col("sc").cast("decimal(38,0)") * col("sc")).cast("double") /
      (col("n").cast("decimal(38,0)") * (col("n") - 1)).cast("double")
    val meanC = col("sc").cast("double") / col("n").cast("double")
    m.select(col("event_type"), col("n"),
        (meanC / 100.0).as("mean_value"),
        (varC / 10000.0).as("variance"),
        (meanC * 0.05 / 100.0).as("mde"))
      .withColumn("n_required",
        ceil(lit(2.0) * (lit(ZAlpha) + lit(ZBeta)) * (lit(ZAlpha) + lit(ZBeta))
          * col("variance") / (col("mde") * col("mde"))).cast("long"))
      .orderBy("event_type")
  }

  val powerSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(c) AS BIGINT) AS sc,
       |    sum(CAST(c * c AS DECIMAL(38,0))) AS q
       |  FROM (SELECT event_type,
       |          CAST(round(value * 100) AS BIGINT) AS c FROM events)
       |  GROUP BY 1),
       |stats AS MATERIALIZED (
       |  SELECT event_type, n,
       |    (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS mean_value,
       |    (CAST(CAST(n AS DECIMAL(38,0)) * q
       |        - CAST(sc AS DECIMAL(38,0)) * sc AS DOUBLE)
       |      / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)) / 10000.0
       |      AS variance,
       |    (CAST(sc AS DOUBLE) / CAST(n AS DOUBLE)) * 0.05 / 100.0 AS mde
       |  FROM m)
       |SELECT event_type, n, mean_value, variance, mde,
       |  CAST(ceil(2.0 * ($ZAlpha + $ZBeta) * ($ZAlpha + $ZBeta)
       |    * variance / (mde * mde)) AS BIGINT) AS n_required
       |FROM stats
       |ORDER BY event_type""".stripMargin

  // --- q_ag_did -------------------------------------------------------------
  // DIFFERENCE-IN-DIFFERENCES — the quasi-experimental estimator run
  // when assignment wasn't randomized per event: treatment = the
  // deterministic user-hash bucket (the q_sm_split salt family), the
  // period boundary a fixed calendar cutoff, and the effect is the
  // interaction (treat_post − treat_pre) − (ctrl_post − ctrl_pre) of
  // the four cell means. Moments are exact DECIMAL(38,0) cent sums
  // per cell (the ttest discipline); the estimate and each cell's
  // variance are fixed double chains over those exact integers, so
  // both engines agree bit-for-bit. The parallel-trends SE is the
  // four-cell variance sum (Welch style, independent cells). Scale:
  // ONE map-side-combinable 4-group aggregation, then a 4-row digest.
  private val DidCutoff = "2024-01-16 00:00:00"

  def did(s: SparkSession, d: String): DataFrame = {
    val treated = Hashes.md5Int32(concat(col("user_id").cast("string"),
      lit("_did"))) % 2 === 0
    val cells = Tables.events(s, d)
      .select(
        when(treated, lit("t")).otherwise(lit("c")).as("arm"),
        when(col("ts") >= lit(DidCutoff).cast("timestamp"), lit("post"))
          .otherwise(lit("pre")).as("period"),
        round(col("value") * 100).cast("long").as("cv"))
      .groupBy("arm", "period")
      .agg(count(lit(1)).as("n"), sum(col("cv")).as("sc"),
        sum((col("cv") * col("cv")).cast("decimal(38,0)")).as("q"))
    val m = col("sc").cast("double") / col("n").cast("double") / 100.0
    val v = (col("n").cast("decimal(38,0)") * col("q") -
      col("sc").cast("decimal(38,0)") * col("sc")).cast("double") /
      (col("n").cast("decimal(38,0)") * (col("n") - 1)).cast("double") / 10000.0
    val digest = cells.select(col("arm"), col("period"), col("n"),
      m.as("mean"), (v / col("n").cast("double")).as("var_mean"))
    // max over exactly one non-null cell value: deterministic (never
    // first(), which is arrival-ordered)
    def cell(a: String, p: String, c: String) =
      max(when(col("arm") === a && col("period") === p, col(c)))
    digest.agg(
        cell("t", "pre", "mean").as("m_t_pre"),
        cell("t", "post", "mean").as("m_t_post"),
        cell("c", "pre", "mean").as("m_c_pre"),
        cell("c", "post", "mean").as("m_c_post"),
        cell("t", "pre", "var_mean").as("v1"),
        cell("t", "post", "var_mean").as("v2"),
        cell("c", "pre", "var_mean").as("v3"),
        cell("c", "post", "var_mean").as("v4"),
        sum(col("n")).as("n_total"))
      .select(lit("did_value").as("metric"), col("n_total"),
        col("m_t_pre"), col("m_t_post"), col("m_c_pre"), col("m_c_post"),
        ((col("m_t_post") - col("m_t_pre")) -
          (col("m_c_post") - col("m_c_pre"))).as("did"),
        sqrt(col("v1") + col("v2") + col("v3") + col("v4")).as("se"))
      .withColumn("significant",
        when(abs(col("did")) > lit(1.96) * col("se"), 1L).otherwise(0L))
      .orderBy("metric")
  }

  lazy val didSql: String = {
    val h = Hashes.md5Int32Sql("user_id::VARCHAR || '_did'")
    s"""WITH cells AS MATERIALIZED (
       |  SELECT CASE WHEN $h % 2 = 0 THEN 't' ELSE 'c' END AS arm,
       |    CASE WHEN ts >= TIMESTAMP '$DidCutoff' THEN 'post' ELSE 'pre' END AS period,
       |    CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sc,
       |    sum(CAST(CAST(round(value * 100) AS BIGINT)
       |      * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS q
       |  FROM events GROUP BY 1, 2),
       |digest AS MATERIALIZED (
       |  SELECT arm, period, n,
       |    sc::DOUBLE / n::DOUBLE / 100.0 AS mean,
       |    ((CAST(CAST(n AS DECIMAL(38,0)) * q
       |        - CAST(sc AS DECIMAL(38,0)) * sc AS DOUBLE)
       |      / CAST(CAST(n AS DECIMAL(38,0)) * (n - 1) AS DOUBLE)) / 10000.0)
       |      / n::DOUBLE AS var_mean
       |  FROM cells),
       |wide AS MATERIALIZED (
       |  SELECT
       |    max(CASE WHEN arm = 't' AND period = 'pre' THEN mean END) AS m_t_pre,
       |    max(CASE WHEN arm = 't' AND period = 'post' THEN mean END) AS m_t_post,
       |    max(CASE WHEN arm = 'c' AND period = 'pre' THEN mean END) AS m_c_pre,
       |    max(CASE WHEN arm = 'c' AND period = 'post' THEN mean END) AS m_c_post,
       |    max(CASE WHEN arm = 't' AND period = 'pre' THEN var_mean END) AS v1,
       |    max(CASE WHEN arm = 't' AND period = 'post' THEN var_mean END) AS v2,
       |    max(CASE WHEN arm = 'c' AND period = 'pre' THEN var_mean END) AS v3,
       |    max(CASE WHEN arm = 'c' AND period = 'post' THEN var_mean END) AS v4,
       |    CAST(sum(n) AS BIGINT) AS n_total
       |  FROM digest)
       |SELECT 'did_value' AS metric, n_total, m_t_pre, m_t_post, m_c_pre,
       |  m_c_post,
       |  (m_t_post - m_t_pre) - (m_c_post - m_c_pre) AS did,
       |  sqrt(v1 + v2 + v3 + v4) AS se,
       |  CAST(CASE WHEN abs((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
       |    > 1.96 * sqrt(v1 + v2 + v3 + v4) THEN 1 ELSE 0 END AS BIGINT)
       |    AS significant
       |FROM wide
       |ORDER BY metric""".stripMargin
  }

  // --- q_ag_ttest -----------------------------------------------------------
  // WELCH'S TWO-SAMPLE t-TEST on per-type mean values — the parametric
  // companion of the bootstrap CI (same question, closed form): are
  // click and view values drawn from the same mean? Every moment
  // (n, Σc, Σc²) is an exact BIGINT; the t statistic and the
  // Welch–Satterthwaite df are then a fixed tree of double operations
  // over those exact integers, written with IDENTICAL operand order in
  // both engines so the statistic matches bit-for-bit. Sample variance
  // uses the exact-integer form (n·Q − S²)/(n·(n−1)). The alarm flags
  // |t| > 1.96 (the 95% two-sided normal threshold — with n ≈ 2000 the
  // t and normal quantiles agree to three decimals). Scale: one
  // map-side-combinable moment aggregation; everything after is a
  // 2-row digest.
  def ttest(s: SparkSession, d: String): DataFrame = {
    // Moments accumulate in DECIMAL(38,0) and the n·Q − S² products are
    // formed in decimal space too: a LONG Σc² wraps silently past
    // ~9.2e18 (Spark) while DuckDB steps up to HUGEINT — the exact
    // cross-engine divergence the CUPED query documents. One cast to
    // double at the end keeps the bit-for-bit parity discipline.
    val m = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
    val a = m.filter(col("g") === "click")
      .select(col("n").as("n1"), col("sc").as("s1"), col("q").as("q1"))
    val b = m.filter(col("g") === "view")
      .select(col("n").as("n2"), col("sc").as("s2"), col("q").as("q2"))
    a.crossJoin(b)
      .withColumn("m1", col("s1").cast("double") / col("n1").cast("double") / 100.0)
      .withColumn("m2", col("s2").cast("double") / col("n2").cast("double") / 100.0)
      .withColumn("v1", (col("n1").cast("decimal(38,0)") * col("q1") -
        col("s1").cast("decimal(38,0)") * col("s1")).cast("double") /
        (col("n1").cast("decimal(38,0)") * (col("n1") - 1)).cast("double") / 10000.0)
      .withColumn("v2", (col("n2").cast("decimal(38,0)") * col("q2") -
        col("s2").cast("decimal(38,0)") * col("s2")).cast("double") /
        (col("n2").cast("decimal(38,0)") * (col("n2") - 1)).cast("double") / 10000.0)
      .withColumn("se1", col("v1") / col("n1").cast("double"))
      .withColumn("se2", col("v2") / col("n2").cast("double"))
      .withColumn("t", (col("m1") - col("m2")) / sqrt(col("se1") + col("se2")))
      .withColumn("df", (col("se1") + col("se2")) * (col("se1") + col("se2")) /
        (col("se1") * col("se1") / (col("n1").cast("double") - 1.0) +
          col("se2") * col("se2") / (col("n2").cast("double") - 1.0)))
      .select(lit("click_vs_view").as("pair"),
        col("n1"), col("n2"), col("m1").as("mean_1"), col("m2").as("mean_2"),
        col("t"), col("df"),
        when(abs(col("t")) > lit(1.96), 1L).otherwise(0L).as("significant"))
      .orderBy("pair")
  }

  // --- q_ag_cohens_d ----------------------------------------------------------
  // COHEN'S d / HEDGES' g EFFECT SIZE for the same click-vs-view pair
  // the Welch t-test judges — the "is it LARGE, not just detectable"
  // companion every experiment readout needs once n is big enough that
  // trivial differences go significant (the q_ag_power calculator's
  // other half). Pooled SD uses the (n−1)-weighted exact-integer
  // variance form; d = (m1 − m2)/s_pooled and Hedges' g applies the
  // small-sample correction 1 − 3/(4(n1+n2)−9). Same discipline as
  // ttest: exact BIGINT moments, one cast to double each, fixed
  // operand-order trees ⇒ identical bits in both engines. Scale: one
  // map-side-combinable moment aggregation, then a 2-row digest.
  def cohensD(s: SparkSession, d: String): DataFrame = {
    // Same DECIMAL(38,0) moment discipline as ttest/cuped: a LONG Σc²
    // (and the n·Q − S² products) wraps silently at large SF while
    // DuckDB errors — exact decimal accumulation, one double cast.
    val m = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("q"))
    val a = m.filter(col("g") === "click")
      .select(col("n").as("n1"), col("sc").as("s1"), col("q").as("q1"))
    val b = m.filter(col("g") === "view")
      .select(col("n").as("n2"), col("sc").as("s2"), col("q").as("q2"))
    a.crossJoin(b)
      .withColumn("m1", col("s1").cast("double") / col("n1").cast("double") / 100.0)
      .withColumn("m2", col("s2").cast("double") / col("n2").cast("double") / 100.0)
      .withColumn("v1", (col("n1").cast("decimal(38,0)") * col("q1") -
        col("s1").cast("decimal(38,0)") * col("s1")).cast("double") /
        (col("n1").cast("decimal(38,0)") * (col("n1") - 1)).cast("double") / 10000.0)
      .withColumn("v2", (col("n2").cast("decimal(38,0)") * col("q2") -
        col("s2").cast("decimal(38,0)") * col("s2")).cast("double") /
        (col("n2").cast("decimal(38,0)") * (col("n2") - 1)).cast("double") / 10000.0)
      .withColumn("sp", sqrt(
        ((col("n1").cast("double") - 1.0) * col("v1") +
          (col("n2").cast("double") - 1.0) * col("v2")) /
          (col("n1").cast("double") + col("n2").cast("double") - 2.0)))
      .withColumn("d", (col("m1") - col("m2")) / col("sp"))
      .select(lit("click_vs_view").as("pair"),
        col("n1"), col("n2"), col("sp").as("pooled_sd"), col("d").as("cohens_d"),
        (col("d") * (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("n1") + col("n2")).cast("double") - lit(9.0))))
          .as("hedges_g"))
      .orderBy("pair")
  }

  val cohensDSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS sc,
      |    sum(CAST(c * c AS DECIMAL(38,0))) AS q
      |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |        FROM events WHERE event_type IN ('click', 'view'))
      |  GROUP BY 1),
      |ab AS MATERIALIZED (
      |  SELECT a.n AS n1, a.sc AS s1, a.q AS q1,
      |         b.n AS n2, b.sc AS s2, b.q AS q2
      |  FROM (SELECT * FROM m WHERE g = 'click') a,
      |       (SELECT * FROM m WHERE g = 'view') b),
      |calc AS MATERIALIZED (
      |  SELECT n1, n2,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100.0 AS m1,
      |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) / 100.0 AS m2,
      |    (CAST(CAST(n1 AS DECIMAL(38,0)) * q1
      |        - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
      |      / CAST(CAST(n1 AS DECIMAL(38,0)) * (n1 - 1) AS DOUBLE)) / 10000.0 AS v1,
      |    (CAST(CAST(n2 AS DECIMAL(38,0)) * q2
      |        - CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE)
      |      / CAST(CAST(n2 AS DECIMAL(38,0)) * (n2 - 1) AS DOUBLE)) / 10000.0 AS v2
      |  FROM ab),
      |eff AS MATERIALIZED (
      |  SELECT n1, n2,
      |    sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1 + (CAST(n2 AS DOUBLE) - 1.0) * v2)
      |      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) AS sp,
      |    (m1 - m2) / sqrt(((CAST(n1 AS DOUBLE) - 1.0) * v1
      |      + (CAST(n2 AS DOUBLE) - 1.0) * v2)
      |      / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)) AS d
      |  FROM calc)
      |SELECT 'click_vs_view' AS pair, n1, n2, sp AS pooled_sd, d AS cohens_d,
      |  d * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) AS hedges_g
      |FROM eff
      |ORDER BY pair""".stripMargin

  val ttestSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(c) AS BIGINT) AS sc,
      |    sum(CAST(c * c AS DECIMAL(38,0))) AS q
      |  FROM (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |        FROM events WHERE event_type IN ('click', 'view'))
      |  GROUP BY 1),
      |ab AS MATERIALIZED (
      |  SELECT a.n AS n1, a.sc AS s1, a.q AS q1,
      |         b.n AS n2, b.sc AS s2, b.q AS q2
      |  FROM (SELECT * FROM m WHERE g = 'click') a,
      |       (SELECT * FROM m WHERE g = 'view') b),
      |calc AS MATERIALIZED (
      |  SELECT n1, n2,
      |    s1::DOUBLE / n1::DOUBLE / 100.0 AS m1,
      |    s2::DOUBLE / n2::DOUBLE / 100.0 AS m2,
      |    (CAST(CAST(n1 AS DECIMAL(38,0)) * q1
      |        - CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE)
      |      / CAST(CAST(n1 AS DECIMAL(38,0)) * (n1 - 1) AS DOUBLE)) / 10000.0 AS v1,
      |    (CAST(CAST(n2 AS DECIMAL(38,0)) * q2
      |        - CAST(s2 AS DECIMAL(38,0)) * s2 AS DOUBLE)
      |      / CAST(CAST(n2 AS DECIMAL(38,0)) * (n2 - 1) AS DOUBLE)) / 10000.0 AS v2
      |  FROM ab),
      |se AS MATERIALIZED (
      |  SELECT n1, n2, m1, m2,
      |    v1 / n1::DOUBLE AS se1, v2 / n2::DOUBLE AS se2
      |  FROM calc)
      |SELECT 'click_vs_view' AS pair, n1, n2, m1 AS mean_1, m2 AS mean_2,
      |  (m1 - m2) / sqrt(se1 + se2) AS t,
      |  (se1 + se2) * (se1 + se2) /
      |    (se1 * se1 / (n1::DOUBLE - 1.0) + se2 * se2 / (n2::DOUBLE - 1.0)) AS df,
      |  CAST(CASE WHEN abs((m1 - m2) / sqrt(se1 + se2)) > 1.96
      |    THEN 1 ELSE 0 END AS BIGINT) AS significant
      |FROM se ORDER BY pair""".stripMargin

  // --- q_ev_pattern ---------------------------------------------------------
  // EVENT-PATTERN MATCHING (the MATCH_RECOGNIZE / CEP shape): every
  // view that converts DIRECTLY to a purchase within one hour with NO
  // intervening click by the same user — the "A then B, without C
  // between" pattern the funnel family cannot express (funnels admit
  // any interleaving; negation-between is the defining CEP feature).
  // NOT a self-join: one window pass per user computes, for every
  // event, the NEXT purchase and NEXT click as reverse-running
  // struct-mins over (ts, event_id) — the total order that makes
  // simultaneous-timestamp semantics deterministic in both engines (a
  // click at the exact purchase timestamp blocks the match iff its
  // event_id is smaller, i.e. iff it sorts strictly between). A view
  // matches iff its next purchase exists, lands within 1 h, and sorts
  // BEFORE the next click. Scale: one shuffle on user_id feeds both
  // window columns and the projection — match volume never exceeds
  // the view count, and nothing is ever joined row-to-row across the
  // full event stream (the self-join formulation is O(views ×
  // purchases) per user; this is O(events log events) per user
  // partition, the streaming-friendly shape).
  def pattern(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    e.withColumn("next_purchase",
        min(when(col("event_type") === "purchase",
          struct(col("ts"), col("event_id")))).over(w))
      .withColumn("next_click",
        min(when(col("event_type") === "click",
          struct(col("ts"), col("event_id")))).over(w))
      .filter(col("event_type") === "view" &&
        col("next_purchase").isNotNull &&
        col("next_purchase.ts") <= col("ts") + expr("INTERVAL 1 HOUR") &&
        (col("next_click").isNull || col("next_purchase") < col("next_click")))
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"),
        col("next_purchase.event_id").as("purchase_id"),
        col("next_purchase.ts").as("purchase_ts"),
        (unix_micros(col("next_purchase.ts")) - unix_micros(col("ts")))
          .as("gap_us"))
      .orderBy("user_id", "view_id")
  }

  val patternSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT user_id, event_type, ts, event_id FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |nxt AS MATERIALIZED (
      |  SELECT user_id, event_type, ts, event_id,
      |    min(CASE WHEN event_type = 'purchase'
      |        THEN {'ts': ts, 'event_id': event_id} END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS np,
      |    min(CASE WHEN event_type = 'click'
      |        THEN {'ts': ts, 'event_id': event_id} END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nc
      |  FROM e)
      |SELECT user_id, event_id AS view_id, ts AS view_ts,
      |  np.event_id AS purchase_id, np.ts AS purchase_ts,
      |  CAST(epoch_us(np.ts) - epoch_us(ts) AS BIGINT) AS gap_us
      |FROM nxt
      |WHERE event_type = 'view' AND np IS NOT NULL
      |  AND np.ts <= ts + INTERVAL 1 HOUR
      |  AND (nc IS NULL OR np < nc)
      |ORDER BY user_id, view_id""".stripMargin

  // --- q_ag_ks --------------------------------------------------------------
  // TWO-SAMPLE KOLMOGOROV–SMIRNOV TEST — the NONPARAMETRIC member of
  // the stats trio (bootstrap = resampling, t-test = parametric means,
  // KS = whole-distribution): D = max |F₁(v) − F₂(v)| over the pooled
  // support, sensitive to shape differences a mean test cannot see.
  // The empirical CDFs are EXACT integer cumulative counts: one
  // aggregation to the per-cent-value (cnt₁, cnt₂) digest, then
  // cumulative sums by a window ordered by value. Each CDF point is
  // one division of exact integers cast to double (identical operands
  // ⇒ identical bits in both engines) and D is a MAX of those
  // deterministic doubles — order-independent, unlike a sum, so
  // parallel aggregation cannot move it. The max carries its argmax
  // via the (diff, −value) struct-max (ties resolve to the SMALLEST
  // value in both engines). Reject at α = 0.05 via the asymptotic
  // critical value 1.358·√((n₁+n₂)/(n₁·n₂)). Scale: like q_ev_dau_cum
  // the global window rides the VALUE-DOMAIN digest (distinct cent
  // values — bounded by the price domain, not the row count); the raw
  // scan never leaves its one map-side-combinable aggregation.
  def ks(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("c"))
    val byVal = e.groupBy("c")
      .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("cnt1"),
        sum(when(col("g") === "view", 1L).otherwise(0L)).as("cnt2"))
    val wCum = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("c")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byVal
      .withColumn("cum1", sum(col("cnt1")).over(wCum))
      .withColumn("cum2", sum(col("cnt2")).over(wCum))
      .withColumn("n1", sum(col("cnt1")).over(wAll))
      .withColumn("n2", sum(col("cnt2")).over(wAll))
      .withColumn("diff",
        abs(col("cum1").cast("double") / col("n1").cast("double")
          - col("cum2").cast("double") / col("n2").cast("double")))
      .groupBy()
      .agg(max(struct(col("diff"), (-col("c")).as("negc"))).as("m"),
        max(col("n1")).as("n1"), max(col("n2")).as("n2"))
      .select(lit("click_vs_view").as("pair"), col("n1"), col("n2"),
        col("m.diff").as("d_stat"), (-col("m.negc")).as("at_cents"),
        (lit(1.358) * sqrt((col("n1").cast("double") + col("n2").cast("double"))
          / (col("n1").cast("double") * col("n2").cast("double")))).as("d_crit"))
      .withColumn("significant",
        when(col("d_stat") > col("d_crit"), 1L).otherwise(0L))
      .orderBy("pair")
  }

  val ksSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events WHERE event_type IN ('click', 'view')),
      |bv AS MATERIALIZED (
      |  SELECT c,
      |    CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cnt1,
      |    CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cnt2
      |  FROM e GROUP BY 1),
      |cum AS MATERIALIZED (
      |  SELECT c,
      |    sum(cnt1) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
      |    sum(cnt2) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
      |    sum(cnt1) OVER () AS n1, sum(cnt2) OVER () AS n2
      |  FROM bv),
      |diffs AS MATERIALIZED (
      |  SELECT c, n1, n2,
      |    abs(CAST(cum1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(cum2 AS DOUBLE) / CAST(n2 AS DOUBLE)) AS diff
      |  FROM cum),
      |agg AS MATERIALIZED (
      |  SELECT max({'diff': diff, 'negc': -c}) AS m,
      |    CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2
      |  FROM diffs)
      |SELECT 'click_vs_view' AS pair, n1, n2, m.diff AS d_stat,
      |  CAST(-m.negc AS BIGINT) AS at_cents,
      |  1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS d_crit,
      |  CAST(CASE WHEN m.diff > 1.358 * sqrt((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) THEN 1 ELSE 0 END AS BIGINT) AS significant
      |FROM agg ORDER BY pair""".stripMargin

  // --- q_ag_mwu -------------------------------------------------------------
  // MANN–WHITNEY U (Wilcoxon rank-sum) — the rank-based location test
  // beside KS's whole-distribution one: robust to outliers a t-test
  // chases, sensitive to median shifts KS dilutes. Ranks are never
  // materialized per row: over the same per-cent-value (cnt₁, cnt₂)
  // digest as q_ag_ks, the EXCLUSIVE running total cb gives every
  // value's tie-averaged rank in doubled form (2·r̄ = 2·cb + t + 1 —
  // doubling keeps the ½ exact in integers), so 2·R₁ is one
  // Σ cnt₁·(2cb + t + 1) with the per-row product in BIGINT and the
  // SUM in DECIMAL(38,0) (the linreg accumulator discipline). The
  // tie-corrected normal approximation uses Σ(t³ − t) the same way
  // (per-row BIGINT is safe to ~2·10⁶ ties per cent value — ≈ sf2000
  // on this fixture's value spread — with the decimal sum wrap-free
  // beyond); z is then a fixed double tree over exact moments,
  // identical operand order in both engines. Scale: one aggregation
  // to the value-domain digest + the bounded domain-grain window —
  // the q_ag_ks posture exactly.
  def mwu(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("c"))
    val byVal = e.groupBy("c")
      .agg(sum(when(col("g") === "click", 1L).otherwise(0L)).as("cnt1"),
        sum(when(col("g") === "view", 1L).otherwise(0L)).as("cnt2"))
    val wEx = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, -1)
    val t = byVal
      .withColumn("t", col("cnt1") + col("cnt2"))
      .withColumn("cb", coalesce(sum(col("t")).over(wEx), lit(0L)))
    t.groupBy()
      .agg(sum(col("cnt1")).as("n1"), sum(col("cnt2")).as("n2"),
        sum((col("cnt1") * (lit(2L) * col("cb") + col("t") + lit(1L)))
          .cast("decimal(38,0)")).as("r2s"),
        sum((col("t") * col("t") * col("t") - col("t"))
          .cast("decimal(38,0)")).as("tcorr"))
      .withColumn("n1d", col("n1").cast("double"))
      .withColumn("n2d", col("n2").cast("double"))
      .withColumn("nd", (col("n1") + col("n2")).cast("double"))
      // 2·U₁ = 2·R₁ − n₁(n₁+1), still exact
      .withColumn("u2", (col("r2s") - (col("n1") * (col("n1") + 1))
        .cast("decimal(38,0)")).cast("double"))
      .withColumn("varu", col("n1d") * col("n2d") / 12.0 *
        ((col("nd") + 1.0) - col("tcorr").cast("double")
          / (col("nd") * (col("nd") - 1.0))))
      .withColumn("z", (col("u2") - col("n1d") * col("n2d"))
        / (lit(2.0) * sqrt(col("varu"))))
      .select(lit("click_vs_view").as("pair"), col("n1"), col("n2"),
        (col("u2") / 2.0).as("u"), col("z"),
        when(abs(col("z")) > lit(1.96), 1L).otherwise(0L).as("significant"))
      .orderBy("pair")
  }

  val mwuSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS c
      |  FROM events WHERE event_type IN ('click', 'view')),
      |bv AS MATERIALIZED (
      |  SELECT c,
      |    CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cnt1,
      |    CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS cnt2
      |  FROM e GROUP BY 1),
      |tt AS MATERIALIZED (
      |  SELECT c, cnt1, cnt2, cnt1 + cnt2 AS t,
      |    CAST(coalesce(sum(cnt1 + cnt2) OVER (ORDER BY c
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
      |  FROM bv),
      |m AS MATERIALIZED (
      |  SELECT CAST(sum(cnt1) AS BIGINT) AS n1, CAST(sum(cnt2) AS BIGINT) AS n2,
      |    sum(CAST(cnt1 * (2 * cb + t + 1) AS DECIMAL(38,0))) AS r2s,
      |    sum(CAST(t * t * t - t AS DECIMAL(38,0))) AS tcorr
      |  FROM tt),
      |calc AS MATERIALIZED (
      |  SELECT n1, n2, CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d,
      |    CAST(n1 + n2 AS DOUBLE) AS nd,
      |    CAST(r2s - CAST(n1 * (n1 + 1) AS DECIMAL(38,0)) AS DOUBLE) AS u2,
      |    CAST(tcorr AS DOUBLE) AS tcorrd
      |  FROM m),
      |zc AS MATERIALIZED (
      |  SELECT n1, n2, u2,
      |    (u2 - n1d * n2d) /
      |      (2.0 * sqrt(n1d * n2d / 12.0 *
      |        ((nd + 1.0) - tcorrd / (nd * (nd - 1.0))))) AS z
      |  FROM calc)
      |SELECT 'click_vs_view' AS pair, n1, n2, u2 / 2.0 AS u, z,
      |  CAST(CASE WHEN abs(z) > 1.96 THEN 1 ELSE 0 END AS BIGINT) AS significant
      |FROM zc ORDER BY pair""".stripMargin

  // --- q_ag_linreg ----------------------------------------------------------
  // PER-GROUP ORDINARY LEAST SQUARES — slope / intercept / r² / Pearson
  // correlation of extended price against quantity per return flag, the
  // closed-form regression every pricing dashboard fits. Spark ships
  // regr_slope/regr_r2 built-ins, but they accumulate DOUBLE moments
  // whose summation order varies with parallelism — the bits would
  // drift between runs and engines. Instead the five moments
  // (Σx, Σy, Σx², Σxy, Σy²) are EXACT: per-row products stay in BIGINT
  // (x ≤ 50, y ≤ ~10⁷ cents ⇒ xy ≤ 5·10⁸ — no per-row wrap at any
  // scale), and the SUMS ride DECIMAL(38,0), which cannot wrap until
  // ~10³⁸ — at 100 TB (≈10¹¹ rows · y² ≈ 10¹⁴) Σy² ≈ 10²⁵, fifteen
  // orders of magnitude of headroom, where BIGINT sums would overflow
  // near sf0.3 (the q_tx_drift lesson applied before it bites). Each
  // exact decimal moment casts to double ONCE (correctly rounded in
  // both engines), then slope = (n·Σxy − Σx·Σy)/(n·Σx² − Σx²ᵉ) and
  // friends are a fixed tree of double ops with identical operand
  // order in both engines ⇒ identical bits. Degenerate groups
  // (constant x or constant y) define slope/r²/corr = 0, never NaN.
  // Scale: one map-side-combinable moment aggregation over the scan;
  // everything after is a 3-row digest.
  def linreg(s: SparkSession, d: String): DataFrame = {
    val m = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"),
        sum((col("x") * col("y")).cast("decimal(38,0)")).as("sxy"),
        sum((col("y") * col("y")).cast("decimal(38,0)")).as("syy"))
    m.withColumn("nd", col("n").cast("double"))
      .withColumn("sxd", col("sx").cast("double"))
      .withColumn("syd", col("sy").cast("double"))
      .withColumn("cxy", col("nd") * col("sxy").cast("double") - col("sxd") * col("syd"))
      .withColumn("cxx", col("nd") * col("sxx").cast("double") - col("sxd") * col("sxd"))
      .withColumn("cyy", col("nd") * col("syy").cast("double") - col("syd") * col("syd"))
      .withColumn("slope",
        when(col("cxx") > 0.0, col("cxy") / col("cxx") / 100.0).otherwise(0.0))
      .withColumn("intercept",
        when(col("cxx") > 0.0,
          (col("syd") - col("cxy") / col("cxx") * col("sxd")) / col("nd") / 100.0)
          .otherwise(0.0))
      .withColumn("r2",
        when(col("cxx") > 0.0 && col("cyy") > 0.0,
          col("cxy") * col("cxy") / (col("cxx") * col("cyy"))).otherwise(0.0))
      .withColumn("corr",
        when(col("cxx") > 0.0 && col("cyy") > 0.0,
          col("cxy") / sqrt(col("cxx") * col("cyy"))).otherwise(0.0))
      .select(col("g"), col("n"), col("slope"), col("intercept"),
        col("r2"), col("corr"))
      .orderBy("g")
  }

  val linregSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT l_returnflag AS g, CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
      |    sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
      |    sum(CAST(x * y AS DECIMAL(38,0))) AS sxy,
      |    sum(CAST(y * y AS DECIMAL(38,0))) AS syy
      |  FROM (SELECT l_returnflag,
      |          CAST(round(l_quantity) AS BIGINT) AS x,
      |          CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |        FROM lineitem) GROUP BY 1),
      |c AS MATERIALIZED (
      |  SELECT g, n, CAST(n AS DOUBLE) AS nd,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy
      |  FROM m)
      |SELECT g, n,
      |  CASE WHEN cxx > 0.0 THEN cxy / cxx / 100.0 ELSE 0.0 END AS slope,
      |  CASE WHEN cxx > 0.0
      |    THEN (syd - cxy / cxx * sxd) / nd / 100.0 ELSE 0.0 END AS intercept,
      |  CASE WHEN cxx > 0.0 AND cyy > 0.0
      |    THEN cxy * cxy / (cxx * cyy) ELSE 0.0 END AS r2,
      |  CASE WHEN cxx > 0.0 AND cyy > 0.0
      |    THEN cxy / sqrt(cxx * cyy) ELSE 0.0 END AS corr
      |FROM c ORDER BY g""".stripMargin

  // --- q_ag_spearman ----------------------------------------------------
  // PER-GROUP SPEARMAN RANK CORRELATION of extended price against
  // quantity — the monotone-association companion of q_ag_linreg's
  // Pearson: immune to the outliers and curvature a product-moment
  // correlation chases. Ranks are never materialized per row: each
  // variable gets a tie-averaged rank PER DISTINCT VALUE from its own
  // (g, value)-grain digest (the q_ag_mwu exclusive-cumsum form, with
  // the ½ kept exact as a DOUBLED rank 2r̄ = 2·cb + t + 1), and the
  // row-grain pairing collapses to the (g, x, y) PAIR digest, so the
  // five rank moments are Σ cnt·f(2rx, 2ry) over pair-grain rows.
  // Spearman is Pearson of the ranks and Pearson is scale-invariant,
  // so the doubled ranks drop straight into the q_ag_linreg moment
  // tree — per-pair products 2rx·2ry stay in BIGINT (wrap-free to
  // n ≈ 1.5·10⁹ rows per group; beyond that the product itself must
  // go DECIMAL), multiplied by the pair count only after the DECIMAL
  // cast, sums in DECIMAL(38,0), one cast to double per moment, fixed
  // double tree ⇒ identical bits in both engines. Scale: the windows
  // run at VALUE-DOMAIN grain per group — x is a 50-value domain, y
  // is catalogue×quantity grain (grows with the part catalogue, three
  // orders slower than the fact table); the only fact-grain pass is
  // the pair-digest aggregation, map-side combinable.
  def spearman(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("g"),
        round(col("l_quantity")).cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
    // ONE fact-grain pass: the (g, x, y) pair digest is computed once
    // and BOTH tie-rank digests derive from it (sum of pair counts per
    // (g, v) ≡ the row count per (g, v) — same BIGINT, same ranks), so
    // the lineitem scan + map-side combine run once instead of three
    // times. localCheckpoint pins the digest for its three consumers
    // (xd, yd, the moment join) — also the self-join attribute-dedup
    // guard (see q_t21_theil_sen).
    // The pair-digest groupBy — the ONLY fact-grain exchange — keys on
    // ONE packed long instead of (string, long, long): ascii(g)·2^48 +
    // x·2^40 + y. The key-packing discipline of the dedup/graph pair
    // digests, applied to a 3-part key: g is a single ASCII flag char
    // (7 bits), x a rounded 1..50 quantity (8 bits), y a rounded
    // cent-scaled price (< 2^40 up to ~10 GB/row price domains) — all
    // three loudly range-guarded IN the expression (no bounded
    // aggregate exists before this exchange to hang a require off; an
    // out-of-range row raises instead of silently colliding groups).
    // Injective ⇒ identical groups and counts; the unpack below is
    // exact integer shift/mod, so the checkpointed digest is
    // bit-identical to the unpacked original and every consumer
    // (rank digests, moment join) is untouched.
    val gxyOk = length(col("g")) === 1 &&
      ascii(col("g")).between(1, 127) && col("x").between(0L, 255L) &&
      col("y") >= 0L && col("y") < lit(1L << 40)
    val gxy = when(gxyOk,
      ascii(col("g")).cast("long") * lit(1L << 48) +
        col("x") * lit(1L << 40) + col("y"))
      .otherwise(raise_error(concat(
        lit("spearman digest packing out of range: ("), col("g"),
        lit(", "), col("x").cast("string"), lit(", "),
        col("y").cast("string"), lit(")"))))
    val pairs = rows.groupBy(gxy.as("gxy")).agg(count(lit(1)).as("c"))
      .select(expr("char(shiftright(gxy, 48))").as("g"),
        (shiftright(col("gxy"), 40) % lit(1L << 8)).as("x"),
        (col("gxy") % lit(1L << 40)).as("y"), col("c"))
      .localCheckpoint()
    def rankDigest(v: String): DataFrame = {
      val wEx = Window.partitionBy("g").orderBy(v)
        .rowsBetween(Window.unboundedPreceding, -1)
      pairs.groupBy("g", v).agg(sum(col("c")).as("t"))
        .withColumn("cb", coalesce(sum(col("t")).over(wEx), lit(0L)))
        .select(col("g"), col(v),
          (lit(2L) * col("cb") + col("t") + lit(1L)).as(s"r$v"))
    }
    val m = pairs
      .join(rankDigest("x"), Seq("g", "x"))
      .join(rankDigest("y"), Seq("g", "y"))
      .groupBy("g")
      .agg(sum(col("c")).as("n"),
        sum(col("c").cast("decimal(38,0)") * col("rx")).as("sx"),
        sum(col("c").cast("decimal(38,0)") * col("ry")).as("sy"),
        sum(col("c").cast("decimal(38,0)") * (col("rx") * col("rx"))).as("sxx"),
        sum(col("c").cast("decimal(38,0)") * (col("rx") * col("ry"))).as("sxy"),
        sum(col("c").cast("decimal(38,0)") * (col("ry") * col("ry"))).as("syy"))
    m.withColumn("nd", col("n").cast("double"))
      .withColumn("sxd", col("sx").cast("double"))
      .withColumn("syd", col("sy").cast("double"))
      .withColumn("cxy",
        col("nd") * col("sxy").cast("double") - col("sxd") * col("syd"))
      .withColumn("cxx",
        col("nd") * col("sxx").cast("double") - col("sxd") * col("sxd"))
      .withColumn("cyy",
        col("nd") * col("syy").cast("double") - col("syd") * col("syd"))
      .select(col("g"), col("n"),
        when(col("cxx") > 0.0 && col("cyy") > 0.0,
          col("cxy") / sqrt(col("cxx") * col("cyy"))).otherwise(0.0)
          .as("spearman"))
      .orderBy("g")
  }

  val spearmanSql: String =
    """WITH rows_ AS MATERIALIZED (
      |  SELECT l_returnflag AS g,
      |    CAST(round(l_quantity) AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |xd AS MATERIALIZED (
      |  SELECT g, x,
      |    2 * CAST(coalesce(sum(t) OVER (PARTITION BY g ORDER BY x
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      + t + 1 AS rx
      |  FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS t
      |        FROM rows_ GROUP BY g, x) xt),
      |yd AS MATERIALIZED (
      |  SELECT g, y,
      |    2 * CAST(coalesce(sum(t) OVER (PARTITION BY g ORDER BY y
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      + t + 1 AS ry
      |  FROM (SELECT g, y, CAST(count(*) AS BIGINT) AS t
      |        FROM rows_ GROUP BY g, y) yt),
      |pd AS MATERIALIZED (
      |  SELECT g, x, y, CAST(count(*) AS BIGINT) AS c
      |  FROM rows_ GROUP BY g, x, y),
      |m AS MATERIALIZED (
      |  SELECT pd.g AS g, CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(c AS DECIMAL(38,0)) * rx) AS sx,
      |    sum(CAST(c AS DECIMAL(38,0)) * ry) AS sy,
      |    sum(CAST(c AS DECIMAL(38,0)) * (rx * rx)) AS sxx,
      |    sum(CAST(c AS DECIMAL(38,0)) * (rx * ry)) AS sxy,
      |    sum(CAST(c AS DECIMAL(38,0)) * (ry * ry)) AS syy
      |  FROM pd
      |  JOIN xd ON pd.g = xd.g AND pd.x = xd.x
      |  JOIN yd ON pd.g = yd.g AND pd.y = yd.y
      |  GROUP BY pd.g),
      |c_ AS MATERIALIZED (
      |  SELECT g, n, CAST(n AS DOUBLE) AS nd,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy
      |  FROM m)
      |SELECT g, n,
      |  CASE WHEN cxx > 0.0 AND cyy > 0.0
      |    THEN cxy / sqrt(cxx * cyy) ELSE 0.0 END AS spearman
      |FROM c_ ORDER BY g""".stripMargin

  // --- q_ev_dau_cum ---------------------------------------------------------
  // DAILY ACTIVE USERS + CUMULATIVE UNIQUE USERS — the growth-curve
  // pair every events product tracks. Cumulative-distinct is
  // re-expressed as each user's FIRST active day (one aggregation)
  // so the running total is a window over the day-grain digest —
  // never a distinct-so-far rescan (the q_tx_heaps trick on the user
  // dimension). All counts exact integers.
  def dauCum(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val dau = e.groupBy("day")
      .agg(countDistinct(col("user_id")).as("dau"))
    val firstDay = e.groupBy("user_id").agg(min(col("day")).as("day"))
      .groupBy("day").agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dau.join(firstDay, Seq("day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .select("day", "dau", "new_users", "cum_users")
      .orderBy("day")
  }

  val dauCumSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT user_id, date_trunc('day', ts) AS day FROM events),
      |dau AS MATERIALIZED (
      |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |  FROM e GROUP BY 1),
      |first_day AS MATERIALIZED (
      |  SELECT min(day) AS day FROM e GROUP BY user_id),
      |newu AS MATERIALIZED (
      |  SELECT day, CAST(count(*) AS BIGINT) AS new_users
      |  FROM first_day GROUP BY 1)
      |SELECT d.day, d.dau,
      |  CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
      |  CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY d.day) AS BIGINT)
      |    AS cum_users
      |FROM dau d LEFT JOIN newu n USING (day)
      |ORDER BY d.day""".stripMargin

  // --- q_ev_stickiness ------------------------------------------------------
  // DAU/WAU STICKINESS — "what fraction of this week's users showed up
  // today", the engagement-depth ratio beside q_ev_dau_cum's growth
  // curve. Sliding-window COUNT(DISTINCT) is re-expressed as a bounded
  // SCATTER: each (user, active-day) row of the distinct user-day
  // digest contributes to exactly the 7 window anchor days it falls
  // into, so WAU is explode(0..6) → distinct → count — a fixed 7×
  // fan-out of the DIGEST (already distinct-compressed), never a
  // per-day rescan of the event log, and never a row-grain
  // distinct-over-window (which Spark cannot plan incrementally
  // anyway). Counts are exact integers; the ratio is one double
  // division. Output keeps only days with activity (the DAU join).
  // Scale: two aggregations at user-day grain + a constant fan-out —
  // at 100 TB the digest is ~|users|·|days|, orders below the fact
  // table, and both groupBys are map-side combinable.
  def stickiness(s: SparkSession, d: String): DataFrame = {
    val ud = Tables.events(s, d)
      .select(col("user_id"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(6))).as("i"))
      .select(col("user_id"), date_add(col("day"), col("i")).as("wday"))
      .distinct()
      .groupBy("wday").agg(count(lit(1)).as("wau"))
    dau.join(wau, dau("day") === wau("wday"))
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
      .orderBy("day")
  }

  val stickinessSql: String =
    """WITH ud AS MATERIALIZED (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      |  FROM events),
      |dau AS MATERIALIZED (
      |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
      |w AS MATERIALIZED (
      |  SELECT DISTINCT user_id, day + CAST(g.i AS INTEGER) AS wday
      |  FROM ud, unnest(generate_series(0, 6)) g(i)),
      |wau AS MATERIALIZED (
      |  SELECT wday, CAST(count(*) AS BIGINT) AS wau FROM w GROUP BY wday)
      |SELECT dau.day AS day, dau, wau,
      |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau ON dau.day = wau.wday
      |ORDER BY day""".stripMargin

  // --- q_ag_mode ------------------------------------------------------------
  // EXACT PER-GROUP MODE (most frequent value) — the order statistic
  // the selection family (median/quantiles/MAD) still lacked. Values
  // route through the cents fixed-point (round·100 → BIGINT) so
  // equality grouping is exact cross-engine, the argmax is a
  // (count DESC, value ASC) window with a total tie-break, and the
  // group-bounded window means no global sort. Scale: one map-side-
  // combinable count aggregation on (g, value), then a window over
  // value-cardinality-bounded groups.
  def mode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("flag"),
        round(col("l_quantity") * 100).cast("long").as("qty_c"))
      .groupBy("flag", "qty_c").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("flag").orderBy(col("n").desc, col("qty_c"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("flag"),
        (col("qty_c").cast("double") / 100.0).as("mode_qty"),
        col("n").as("n_mode"))
      .orderBy("flag")
  }

  val modeSql: String =
    """WITH counts AS MATERIALIZED (
      |  SELECT l_returnflag AS flag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
      |    count(*) AS n
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT flag, qty_c::DOUBLE / 100.0 AS mode_qty, n AS n_mode FROM (
      |  SELECT flag, qty_c, n, row_number() OVER (
      |    PARTITION BY flag ORDER BY n DESC, qty_c) AS rk
      |  FROM counts)
      |WHERE rk = 1
      |ORDER BY flag""".stripMargin

  // --- q_ev_attribution_u ---------------------------------------------------
  // POSITION-BASED (U-shaped) multi-touch attribution, completing the
  // linear model above: first and last touch take 40% each, the middle
  // touches split the remaining 20% evenly (the standard U-shape);
  // single-touch journeys take 100%, two-touch journeys 50/50. Same
  // 24 h lookback and same exact-integer micro-credit discipline —
  // every credit is an integer DIV of 1 000 000, so cross-engine sums
  // are exact and the floor remainder (dropped, as in the linear
  // model) is bounded by n_touch micro-units per purchase. Touch order
  // within a journey is the total (touch_ts, touch_id) order — no
  // arrival-order nondeterminism. One join + one per-purchase window
  // (journeys are user-bounded), digest-only aggregation after.
  def attributionU(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(s, d)
    val touches = e.filter(col("event_type").isin("view", "click"))
      .select(col("user_id"), col("event_type").as("touch_type"),
        col("ts").as("touch_ts"), col("event_id").as("touch_id"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
    val attributed = purchases.join(touches, "user_id")
      .filter(col("touch_ts") <= col("p_ts") &&
        col("touch_ts") > col("p_ts") - expr("INTERVAL 24 HOURS"))
    val w = Window.partitionBy("p_id").orderBy("touch_ts", "touch_id")
    val ranked = attributed
      .withColumn("rn", row_number().over(w).cast("bigint"))
      .withColumn("n_touch", count(lit(1)).over(Window.partitionBy("p_id")))
    val credited = ranked.withColumn("role",
      when(col("n_touch") === 1, "solo")
        .when(col("rn") === 1, "first")
        .when(col("rn") === col("n_touch"), "last")
        .otherwise("middle"))
      .withColumn("credit_fixed",
        when(col("role") === "solo", lit(1000000L))
          .when(col("role") === "first" || col("role") === "last",
            when(col("n_touch") === 2, lit(500000L)).otherwise(lit(400000L)))
          .otherwise(expr("200000 DIV (n_touch - 2)")))
    credited.groupBy("role", "touch_type")
      .agg(count(lit(1)).as("n_credited"),
        sum(col("credit_fixed")).as("credit_micros"))
      .select(col("role"), col("touch_type"), col("n_credited"),
        col("credit_micros"),
        (col("credit_micros").cast("double") / 1000000.0).as("conversions"))
      .orderBy("role", "touch_type")
  }

  val attributionUSql: String =
    """WITH touches AS MATERIALIZED (
      |  SELECT user_id, event_type AS touch_type, ts AS touch_ts,
      |    event_id AS touch_id
      |  FROM events WHERE event_type IN ('view', 'click')),
      |purchases AS MATERIALIZED (
      |  SELECT user_id, ts AS p_ts, event_id AS p_id
      |  FROM events WHERE event_type = 'purchase'),
      |ranked AS MATERIALIZED (
      |  SELECT p.p_id, t.touch_type,
      |    CAST(row_number() OVER (PARTITION BY p.p_id
      |      ORDER BY t.touch_ts, t.touch_id) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY p.p_id) AS BIGINT) AS n_touch
      |  FROM purchases p JOIN touches t USING (user_id)
      |  WHERE t.touch_ts <= p.p_ts
      |    AND t.touch_ts > p.p_ts - INTERVAL 24 HOURS),
      |credited AS MATERIALIZED (
      |  SELECT touch_type,
      |    CASE WHEN n_touch = 1 THEN 'solo'
      |         WHEN rn = 1 THEN 'first'
      |         WHEN rn = n_touch THEN 'last'
      |         ELSE 'middle' END AS role,
      |    CASE WHEN n_touch = 1 THEN 1000000
      |         WHEN rn = 1 OR rn = n_touch THEN
      |           CASE WHEN n_touch = 2 THEN 500000 ELSE 400000 END
      |         ELSE 200000 // (n_touch - 2) END AS credit_fixed
      |  FROM ranked)
      |SELECT role, touch_type,
      |  count(*) AS n_credited,
      |  CAST(sum(credit_fixed) AS BIGINT) AS credit_micros,
      |  CAST(sum(credit_fixed) AS BIGINT)::DOUBLE / 1000000.0 AS conversions
      |FROM credited
      |GROUP BY role, touch_type
      |ORDER BY role, touch_type""".stripMargin

  // --- q_ag_chi2 ------------------------------------------------------------
  // CHI-SQUARE TEST OF INDEPENDENCE between the two document
  // categoricals (lang × source) + CRAMÉR'S V effect size — the
  // dataset-card screen for "is my corpus's language mix uniform
  // across sources, or does one crawl dominate a language?". The
  // contingency table INCLUDES structurally-empty cells (O = 0
  // contributes E to the statistic — dropping them understates χ²),
  // built as the row-margin × column-margin cross of the two tiny
  // marginal digests left-joined against observed cells. Margins and
  // observations are exact BIGINTs; each cell's expected count and
  // term are a fixed-order double tree over those integers (scale-safe
  // where an all-integer (O·N − rt·ct)² formulation overflows any
  // fixed decimal at web scale), and the cross-cell sum rides the
  // 1e-9 fixed-point re-round so parallel order can't move bits.
  // Scale: one doc-grain aggregation to |langs|·|sources| cells;
  // everything after is digest-grain. V = sqrt(χ²/(N·min(r−1,c−1)))
  // normalizes to [0,1] for cross-corpus comparison.
  def chi2(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("lang").agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy("source").agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("lang")).as("r"),
      countDistinct(col("source")).as("c"))
    val full = rt.crossJoin(ct)
      .join(cells, Seq("lang", "source"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      .withColumn("e",
        col("rt").cast("double") * col("ct").cast("double") /
          col("n").cast("double"))
      .withColumn("term",
        (col("o").cast("double") - col("e")) *
          (col("o").cast("double") - col("e")) / col("e"))
    full.groupBy("n", "r", "c")
      .agg(sum(round(col("term") * 1e9).cast("long")).as("s9"))
      .select(col("n"), col("r"), col("c"),
        ((col("r") - 1) * (col("c") - 1)).as("dof"),
        (col("s9").cast("double") / 1.0e9).as("chi2"),
        sqrt(col("s9").cast("double") / 1.0e9 /
          (col("n").cast("double") *
            least(col("r") - 1, col("c") - 1).cast("double")))
          .as("cramers_v"))
  }

  val chi2Sql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |rt AS MATERIALIZED (
      |  SELECT lang, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY 1),
      |ct AS MATERIALIZED (
      |  SELECT source, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY 1),
      |tot AS MATERIALIZED (
      |  SELECT CAST(sum(o) AS BIGINT) AS n,
      |    CAST(count(DISTINCT lang) AS BIGINT) AS r,
      |    CAST(count(DISTINCT source) AS BIGINT) AS c
      |  FROM cells),
      |full_cells AS MATERIALIZED (
      |  SELECT coalesce(cl.o, 0) AS o,
      |    rt.rt::DOUBLE * ct.ct::DOUBLE / tot.n::DOUBLE AS e,
      |    tot.n, tot.r, tot.c
      |  FROM rt CROSS JOIN ct CROSS JOIN tot
      |  LEFT JOIN cells cl ON cl.lang = rt.lang AND cl.source = ct.source),
      |summed AS MATERIALIZED (
      |  SELECT n, r, c,
      |    CAST(sum(CAST(round((o::DOUBLE - e) * (o::DOUBLE - e) / e * 1e9)
      |      AS BIGINT)) AS BIGINT) AS s9
      |  FROM full_cells GROUP BY 1, 2, 3)
      |SELECT n, r, c, CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
      |  s9::DOUBLE / 1e9 AS chi2,
      |  sqrt(s9::DOUBLE / 1e9 /
      |    (n::DOUBLE * CAST(least(r - 1, c - 1) AS DOUBLE))) AS cramers_v
      |FROM summed""".stripMargin

  // --- q_ag_anova -----------------------------------------------------------
  // ONE-WAY ANOVA F-TEST of event value across ALL event types — the
  // k-group generalization of q_ag_ttest ("do any of the five types
  // differ in mean value?"). Values quantize to cents once (the ttest
  // discipline), so the per-group moments (n, Σc, Σc²) are exact
  // BIGINTs; the per-group S²/n terms are fixed-order doubles re-summed
  // through the 1e6 fixed point in DECIMAL(38,0) (a group's S² already
  // tops 10¹⁸ here, and the re-round absorbs both parallel order and
  // the ulp of the division), and SSB/SSW/F are a fixed double tree.
  // Scale: one map-side-combinable moment aggregation to a k-row
  // digest; k = |event types|.
  def anova(s: SparkSession, d: String): DataFrame = {
    val m = Tables.events(s, d)
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("qg"))
      .withColumn("tg", // cast sg to decimal BEFORE squaring: long² overflows
        (col("sg").cast("decimal(38,0)") * col("sg")).cast("double") /
          col("ng").cast("double"))
    m.groupBy()
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sg")).as("stot"), sum(col("qg")).as("qtot"),
        sum(round(col("tg") / 1e6).cast("decimal(38,0)")).as("t6"))
      .withColumn("t",
        col("t6").cast("double") * 1e6) // Σ S_g²/n_g, 1e6-quantized
      .withColumn("grand",
        (col("stot").cast("decimal(38,0)") * col("stot")).cast("double") /
          col("n").cast("double"))
      .withColumn("ssb", (col("t") - col("grand")) / 1e4) // cents² → units²
      .withColumn("ssw", (col("qtot").cast("double") - col("t")) / 1e4)
      .select(col("k"), col("n"),
        col("ssb").as("ss_between"), col("ssw").as("ss_within"),
        // degenerate guards (the zipf/linreg discipline): one group
        // (k = 1) or a flat corpus (ssw = 0) yields 0.0, never a
        // divide-by-zero / NaN
        when(col("k") > 1L && col("ssw") > 0.0,
          col("ssb") / (col("k").cast("double") - 1.0) /
            (col("ssw") / (col("n").cast("double") - col("k").cast("double"))))
          .otherwise(lit(0.0)).as("f"))
  }

  val anovaSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sg,
      |    sum(CAST(CAST(round(value * 100) AS BIGINT)
      |      * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))) AS qg
      |  FROM events GROUP BY 1),
      |terms AS MATERIALIZED (
      |  SELECT ng, sg, qg,
      |    CAST(CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE) / ng::DOUBLE AS tg
      |  FROM m),
      |agg AS MATERIALIZED (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
      |    CAST(sum(sg) AS BIGINT) AS stot, sum(qg) AS qtot,
      |    sum(CAST(round(tg / 1e6) AS DECIMAL(38,0))) AS t6
      |  FROM terms),
      |calc AS MATERIALIZED (
      |  SELECT k, n,
      |    t6::DOUBLE * 1e6 AS t,
      |    CAST(CAST(stot AS DECIMAL(38,0)) * stot AS DOUBLE) / n::DOUBLE
      |      AS grand,
      |    qtot::DOUBLE AS q
      |  FROM agg)
      |SELECT k, n,
      |  (t - grand) / 1e4 AS ss_between,
      |  (q - t) / 1e4 AS ss_within,
      |  CASE WHEN k > 1 AND (q - t) / 1e4 > 0.0 THEN
      |    ((t - grand) / 1e4) / (k::DOUBLE - 1.0) /
      |      (((q - t) / 1e4) / (n::DOUBLE - k::DOUBLE))
      |    ELSE 0.0 END AS f
      |FROM calc""".stripMargin

  // --- q_ag_kendall ---------------------------------------------------------
  // KENDALL'S τ-b per language between document length (25-char
  // buckets) and token count (10-token buckets) — the rank-association
  // screen that, unlike Spearman, is exact under heavy ties because it
  // counts pairs, not ranks. NEVER pairs rows: documents reduce to the
  // per-(lang, x, y) VALUE-DOMAIN digest first (bounded by bucket
  // granularity — length caps and token caps bound it at ANY corpus
  // size), and concordant/discordant pair counts come from the digest
  // self-join on x₁ < x₂ (each unordered cell pair once; x-ties
  // excluded from both C and D by construction). Tie corrections n₁/n₂
  // come from the x- and y-marginal digests. Everything is exact
  // integers in DECIMAL(38,0) (pair counts are O(n²)) until the single
  // final division by the sqrt of the tie-corrected pair products.
  // Scale: doc-grain aggregation → ≤(len/25)·(tok/10) cells per lang;
  // the digest self-join is broadcast-size regardless of corpus rows.
  def kendall(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .select(col("lang").as("g"),
        floor(col("n_chars") / 25).cast("long").as("x"),
        floor(size(split(col("text"), " ")) / 10).cast("long").as("y"))
      .groupBy("g", "x", "y").agg(count(lit(1)).as("m"))
      .localCheckpoint() // read by 4 digest passes
    val cd = cells.as("p").join(cells.as("q"),
        col("p.g") === col("q.g") && col("p.x") < col("q.x"))
      .groupBy(col("p.g").as("g"))
      .agg(
        sum(when(col("p.y") < col("q.y"), (col("p.m") * col("q.m"))
          .cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("conc"),
        sum(when(col("p.y") > col("q.y"), (col("p.m") * col("q.m"))
          .cast("decimal(38,0)")).otherwise(lit(0).cast("decimal(38,0)")))
          .as("disc"))
    val nTot = cells.groupBy("g").agg(sum(col("m")).as("n"))
    val tx = cells.groupBy("g", "x").agg(sum(col("m")).as("t"))
      .groupBy("g").agg(sum(expr("(t * (t - 1)) DIV 2")
        .cast("decimal(38,0)")).as("n1"))
    val ty = cells.groupBy("g", "y").agg(sum(col("m")).as("t"))
      .groupBy("g").agg(sum(expr("(t * (t - 1)) DIV 2")
        .cast("decimal(38,0)")).as("n2"))
    nTot.join(cd, "g").join(tx, "g").join(ty, "g")
      .withColumn("n0", expr("(n * (n - 1)) DIV 2").cast("decimal(38,0)"))
      .select(col("g"), col("n"),
        col("conc").cast("long").as("concordant"),
        col("disc").cast("long").as("discordant"),
        // all-tied x or y (n0 = n1 or n0 = n2) zeroes the denominator:
        // association is undefined, report 0.0 — never Inf/NaN
        when(col("n0") > col("n1") && col("n0") > col("n2"),
          (col("conc") - col("disc")).cast("double") /
            sqrt(((col("n0") - col("n1")) * (col("n0") - col("n2")))
              .cast("double"))).otherwise(lit(0.0)).as("tau_b"))
      .orderBy("g")
  }

  val kendallSql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT lang AS g, n_chars // 25 AS x,
      |    len(string_split(text, ' ')) // 10 AS y,
      |    CAST(count(*) AS BIGINT) AS m
      |  FROM documents GROUP BY 1, 2, 3),
      |cd AS MATERIALIZED (
      |  SELECT p.g,
      |    sum(CASE WHEN p.y < q.y
      |      THEN CAST(p.m * q.m AS DECIMAL(38,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS conc,
      |    sum(CASE WHEN p.y > q.y
      |      THEN CAST(p.m * q.m AS DECIMAL(38,0))
      |      ELSE CAST(0 AS DECIMAL(38,0)) END) AS disc
      |  FROM cells p JOIN cells q ON p.g = q.g AND p.x < q.x
      |  GROUP BY 1),
      |ntot AS MATERIALIZED (
      |  SELECT g, CAST(sum(m) AS BIGINT) AS n FROM cells GROUP BY 1),
      |tx AS MATERIALIZED (
      |  SELECT g, sum(CAST(t * (t - 1) // 2 AS DECIMAL(38,0))) AS n1
      |  FROM (SELECT g, x, CAST(sum(m) AS BIGINT) AS t
      |        FROM cells GROUP BY 1, 2) GROUP BY 1),
      |ty AS MATERIALIZED (
      |  SELECT g, sum(CAST(t * (t - 1) // 2 AS DECIMAL(38,0))) AS n2
      |  FROM (SELECT g, y, CAST(sum(m) AS BIGINT) AS t
      |        FROM cells GROUP BY 1, 2) GROUP BY 1)
      |SELECT ntot.g AS g, ntot.n,
      |  CAST(cd.conc AS BIGINT) AS concordant,
      |  CAST(cd.disc AS BIGINT) AS discordant,
      |  CASE WHEN CAST(ntot.n * (ntot.n - 1) // 2 AS DECIMAL(38,0)) > n1
      |        AND CAST(ntot.n * (ntot.n - 1) // 2 AS DECIMAL(38,0)) > n2
      |  THEN CAST(cd.conc - cd.disc AS DOUBLE) /
      |    sqrt(CAST((CAST(ntot.n * (ntot.n - 1) // 2 AS DECIMAL(38,0)) - n1)
      |      * (CAST(ntot.n * (ntot.n - 1) // 2 AS DECIMAL(38,0)) - n2)
      |      AS DOUBLE)) ELSE 0.0 END AS tau_b
      |FROM ntot JOIN cd ON ntot.g = cd.g JOIN tx ON ntot.g = tx.g
      |JOIN ty ON ntot.g = ty.g
      |ORDER BY g""".stripMargin

  // --- q_ev_gini ------------------------------------------------------------
  // GINI CONCENTRATION of per-user activity, per event type — the
  // "does 1% of users generate 90% of the clicks" screen every
  // engagement dashboard and bot-detection pass needs. The sorted
  // rank-weighted sum G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n never
  // materializes ranks per user: user counts reduce to the per-(type,
  // count-VALUE) digest with multiplicity m, and a run of m equal
  // values starting after cumulative position c contributes
  // v·(m·c + m(m+1)/2) — exact integers via a window over the digest
  // (count values are bounded; the digest is value-domain, not
  // user-domain). One final fixed-order double expression per type.
  def gini(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val uc = Tables.events(s, d)
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("v"))
    val digest = uc.groupBy(col("event_type"), col("v"))
      .agg(count(lit(1)).as("m"))
    val w = Window.partitionBy("event_type").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    digest
      .withColumn("c", coalesce(sum(col("m")).over(w), lit(0L)))
      .withColumn("wsum",
        expr("v * (m * c + (m * (m + 1)) DIV 2)").cast("decimal(38,0)"))
      .groupBy("event_type")
      .agg(sum(col("m")).as("n_users"),
        sum((col("v") * col("m")).cast("decimal(38,0)")).as("total"),
        sum(col("wsum")).as("rw"))
      .select(col("event_type"), col("n_users"),
        col("total").cast("long").as("n_events"),
        ((lit(2.0) * col("rw").cast("double")) /
          (col("n_users").cast("double") * col("total").cast("double")) -
          (col("n_users").cast("double") + 1.0) /
            col("n_users").cast("double")).as("gini"))
      .orderBy("event_type")
  }

  val giniSql: String =
    """WITH uc AS MATERIALIZED (
      |  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS v
      |  FROM events GROUP BY 1, 2),
      |digest AS MATERIALIZED (
      |  SELECT event_type, v, CAST(count(*) AS BIGINT) AS m
      |  FROM uc GROUP BY 1, 2),
      |runs AS MATERIALIZED (
      |  SELECT event_type, v, m,
      |    CAST(coalesce(sum(m) OVER (PARTITION BY event_type ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |      AS c
      |  FROM digest)
      |SELECT event_type, CAST(sum(m) AS BIGINT) AS n_users,
      |  CAST(sum(CAST(v * m AS DECIMAL(38,0))) AS BIGINT) AS n_events,
      |  2.0 * CAST(sum(CAST(v * (m * c + m * (m + 1) // 2)
      |      AS DECIMAL(38,0))) AS DOUBLE) /
      |    (CAST(sum(m) AS DOUBLE)
      |      * CAST(sum(CAST(v * m AS DECIMAL(38,0))) AS DOUBLE)) -
      |  (CAST(sum(m) AS DOUBLE) + 1.0) / CAST(sum(m) AS DOUBLE) AS gini
      |FROM runs
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // --- q_ag_proptest ----------------------------------------------------------
  // TWO-PROPORTION Z-TEST — the A/B-test primitive: assignment is the
  // standard deterministic id-hash bucketing (arm = user_id mod 2, the
  // production A/B mechanic), outcome is "the user's FIRST event is a
  // purchase" — a rate that stays interior at every corpus size where
  // "ever purchased" saturates to 1 (and a pooled rate of 0 or 1 is a
  // division by zero in the z denominator). The first event is the
  // deterministic struct min over (ts, event_id, type). Arm flags and
  // outcomes come from ONE user-grain aggregation (map-side
  // combinable); the four arm counts are exact BIGINTs in a 2-row
  // digest, and z is a fixed-order double tree over them
  // (pooled-variance form). |z| > 1.96 flags 95% two-sided
  // significance — the sample-ratio-mismatch-style screen an
  // experimentation platform runs on every assignment key (a firing
  // A/A split is evidence of id-correlated behavior or a logging
  // bug, which the synthetic generator here in fact exhibits). Scale:
  // one shuffle on user_id, then constant-size arithmetic.
  def proptest(s: SparkSession, d: String): DataFrame = {
    val u = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min(struct(col("ts"), col("event_id"), col("event_type")))
        .as("first"))
      .select(col("user_id"),
        when(col("first.event_type") === "purchase", 1L).otherwise(0L)
          .as("converted"))
      .withColumn("arm", pmod(col("user_id"), lit(2)).cast("long"))
    val m = u.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val a = m.filter(col("arm") === 1L)
      .select(col("n").as("n1"), col("x").as("x1"))
    val b = m.filter(col("arm") === 0L)
      .select(col("n").as("n2"), col("x").as("x2"))
    a.crossJoin(b)
      .withColumn("p1", col("x1").cast("double") / col("n1").cast("double"))
      .withColumn("p2", col("x2").cast("double") / col("n2").cast("double"))
      .withColumn("pp", (col("x1") + col("x2")).cast("double") /
        (col("n1") + col("n2")).cast("double"))
      // a saturated pooled rate (everyone or no-one converted) zeroes
      // the denominator: report z = 0, never Inf/NaN
      .withColumn("z", when(col("pp") > 0.0 && col("pp") < 1.0,
        (col("p1") - col("p2")) /
          sqrt(col("pp") * (lit(1.0) - col("pp")) *
            (lit(1.0) / col("n1").cast("double") +
              lit(1.0) / col("n2").cast("double")))).otherwise(lit(0.0)))
      .select(lit("arm1_vs_arm0").as("pair"),
        col("n1"), col("x1"), col("n2"), col("x2"),
        col("p1").as("rate_1"), col("p2").as("rate_2"), col("z"),
        when(abs(col("z")) > lit(1.96), 1L).otherwise(0L).as("significant"))
      .orderBy("pair")
  }

  val proptestSql: String =
      // user_id ≥ 0 so % and pmod agree between the engines
    """WITH u AS MATERIALIZED (
      |  SELECT user_id % 2 AS arm,
      |    CASE WHEN min({'ts': ts, 'event_id': event_id,
      |        'event_type': event_type}).event_type = 'purchase'
      |      THEN 1 ELSE 0 END AS converted
      |  FROM events GROUP BY user_id),
      |m AS MATERIALIZED (
      |  SELECT arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(converted) AS BIGINT) AS x
      |  FROM u GROUP BY 1),
      |ab AS MATERIALIZED (
      |  SELECT a.n AS n1, a.x AS x1, b.n AS n2, b.x AS x2
      |  FROM (SELECT * FROM m WHERE arm = 1) a,
      |       (SELECT * FROM m WHERE arm = 0) b),
      |calc AS MATERIALIZED (
      |  SELECT n1, x1, n2, x2,
      |    x1::DOUBLE / n1::DOUBLE AS p1, x2::DOUBLE / n2::DOUBLE AS p2,
      |    (x1 + x2)::DOUBLE / (n1 + n2)::DOUBLE AS pp
      |  FROM ab)
      |SELECT 'arm1_vs_arm0' AS pair, n1, x1, n2, x2,
      |  p1 AS rate_1, p2 AS rate_2,
      |  CASE WHEN pp > 0.0 AND pp < 1.0 THEN
      |    (p1 - p2) / sqrt(pp * (1.0 - pp)
      |      * (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE)) ELSE 0.0 END AS z,
      |  CAST(CASE WHEN pp > 0.0 AND pp < 1.0
      |    AND abs((p1 - p2) / sqrt(pp * (1.0 - pp)
      |      * (1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE))) > 1.96
      |    THEN 1 ELSE 0 END AS BIGINT) AS significant
      |FROM calc ORDER BY pair""".stripMargin

  // --- q_ag_entropy -----------------------------------------------------------
  // SHANNON ENTROPY of the source mix per language (+ the 0–1
  // normalized form) — the dataset-card diversity stat: a language fed
  // by one crawl scores 0, a uniform mix scores 1. H = ln S −
  // (Σ c·ln c)/S over the per-(lang, source) count digest; each ln c
  // quantizes at 1e-6 into a BIGINT (the q_tx_zipf/bm25 discipline,
  // absorbing cross-engine ulp drift in ln), the c-weighted sum rides
  // DECIMAL(38,0), and the final expression is a fixed-order double
  // tree. Scale: one doc-grain aggregation to ≤|langs|·|sources|
  // cells; everything after is digest-grain.
  def entropy(s: SparkSession, d: String): DataFrame = {
    val cells = Tables.documents(s, d)
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
    cells.groupBy("lang")
      .agg(count(lit(1)).as("k"), sum(col("c")).as("n"),
        sum((col("c") *
          round(log(col("c").cast("double")) * 1e6).cast("long"))
          .cast("decimal(38,0)")).as("cl6"))
      .withColumn("h",
        round(log(col("n").cast("double")) * 1e6).cast("long")
          .cast("double") / 1e6 -
          col("cl6").cast("double") / 1e6 / col("n").cast("double"))
      .select(col("lang"), col("n").as("n_docs"), col("k").as("k_sources"),
        col("h").as("entropy"),
        when(col("k") > 1L, col("h") /
          (round(log(col("k").cast("double")) * 1e6).cast("long")
            .cast("double") / 1e6)).otherwise(lit(0.0))
          .as("norm_entropy"))
      .orderBy("lang")
  }

  val entropySql: String =
    """WITH cells AS MATERIALIZED (
      |  SELECT lang, source, CAST(count(*) AS BIGINT) AS c
      |  FROM documents GROUP BY 1, 2),
      |agg AS MATERIALIZED (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS k,
      |    CAST(sum(c) AS BIGINT) AS n,
      |    sum(CAST(c * CAST(round(ln(c::DOUBLE) * 1e6) AS BIGINT)
      |      AS DECIMAL(38,0))) AS cl6
      |  FROM cells GROUP BY 1),
      |calc AS MATERIALIZED (
      |  SELECT lang, n, k,
      |    CAST(round(ln(n::DOUBLE) * 1e6) AS BIGINT)::DOUBLE / 1e6
      |      - cl6::DOUBLE / 1e6 / n::DOUBLE AS h
      |  FROM agg)
      |SELECT lang, n AS n_docs, k AS k_sources, h AS entropy,
      |  CASE WHEN k > 1 THEN h /
      |    (CAST(round(ln(k::DOUBLE) * 1e6) AS BIGINT)::DOUBLE / 1e6)
      |    ELSE 0.0 END AS norm_entropy
      |FROM calc ORDER BY lang""".stripMargin

  // --- q_ev_paths -------------------------------------------------------------
  // TOP 3-STEP BEHAVIOR PATHS — the path-analysis table behind "what do
  // users actually do": the 20 most frequent consecutive event-type
  // trigrams, per-user ordered by (ts, event_id) so simultaneous
  // events are deterministic. Two leads over ONE user-key window pass
  // (the CEP shape — no self-join), map-side-combined counts at
  // path-vocabulary grain, and the top-20 is a TakeOrderedAndProject
  // heap, never a global sort.
  def paths(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead("event_type", 1).over(w))
      .withColumn("e3", lead("event_type", 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  val pathsSql: String =
    """WITH seq AS MATERIALIZED (
      |  SELECT event_type,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT event_type || '>' || e2 || '>' || e3 AS path,
      |  count(*) AS n
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY 1
      |ORDER BY n DESC, path
      |LIMIT 20""".stripMargin

  // --- q_ev_survival ----------------------------------------------------------
  // KAPLAN–MEIER RETENTION CURVE over user lifetimes (days from first
  // to last event), right-censored for users still active in the final
  // week of the window. S(t) = Π_{i≤t} (1 − dᵢ/nᵢ) is a SEQUENTIAL
  // product no parallel aggregate reproduces bit-for-bit — so it runs
  // as an ordered fold over the day-grain digest: the per-day factors
  // (exact integer divisions, bit-identical) collect into ONE sorted
  // array per curve and each row's prefix folds left-to-right with
  // the aggregate HOF (DuckDB: list_reduce with the init element
  // prepended). The digest is calendar-bounded, so the O(D²) prefix
  // folds are constant work at any corpus size; at-risk counts come
  // from one descending cumulative sum, never a per-user scan per day.
  def survival(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val life = Tables.events(s, d)
      .groupBy("user_id")
      .agg(datediff(max(col("ts")), min(col("ts"))).cast("long").as("t"),
        max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(Tables.events(s, d)
        .agg(max(col("ts")).as("maxts"))))
      .select(col("t"),
        (col("last_ts") > col("maxts") - expr("INTERVAL 7 DAYS"))
          .cast("long").as("censored"))
    val byDay = life.groupBy("t")
      .agg(sum(lit(1L) - col("censored")).as("d"),
        sum(col("censored")).as("c"))
    // n_t (at risk at t) = users with lifetime >= t: a descending cumsum
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val digest = byDay
      .withColumn("n", sum(col("d") + col("c")).over(wDesc))
      .withColumn("q", (col("n") - col("d")).cast("double") /
        col("n").cast("double"))
    val folded = digest
      .groupBy()
      .agg(sort_array(collect_list(struct(col("t"), col("q")))).as("qs"))
    digest.crossJoin(broadcast(folded))
      .withColumn("surv", expr(
        "aggregate(filter(qs, x -> x.t <= t), CAST(1.0 AS DOUBLE), " +
          "(acc, x) -> acc * x.q)"))
      .select(col("t"), col("n").as("n_at_risk"), col("d").as("churned"),
        col("c").as("censored"), col("surv").as("survival"))
      .orderBy("t")
  }

  val survivalSql: String =
    """WITH mx AS MATERIALIZED (SELECT max(ts) AS maxts FROM events),
      |life AS MATERIALIZED (
      |  SELECT date_diff('day', min(ts)::DATE, max(ts)::DATE) AS t,
      |    CASE WHEN max(ts) > (SELECT maxts FROM mx) - INTERVAL 7 DAY
      |      THEN 1 ELSE 0 END AS censored
      |  FROM events GROUP BY user_id),
      |by_day AS MATERIALIZED (
      |  SELECT t, CAST(sum(1 - censored) AS BIGINT) AS d,
      |    CAST(sum(censored) AS BIGINT) AS c
      |  FROM life GROUP BY 1),
      |digest AS MATERIALIZED (
      |  SELECT t, d, c,
      |    CAST(sum(d + c) OVER (ORDER BY t DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS n
      |  FROM by_day),
      |qs AS MATERIALIZED (
      |  SELECT list_sort(list({'t': t,
      |    'q': (n - d)::DOUBLE / n::DOUBLE})) AS qs
      |  FROM digest)
      |SELECT t, n AS n_at_risk, d AS churned, c AS censored,
      |  list_reduce(list_prepend(1.0::DOUBLE,
      |    list_transform(list_filter(qs.qs, x -> x.t <= digest.t),
      |      x -> x.q)), (acc, x) -> acc * x) AS survival
      |FROM digest, qs
      |ORDER BY t""".stripMargin

  // --- q_ag_boxplot -----------------------------------------------------------
  // TUKEY BOXPLOT DIGEST per event type — q1/median/q3, the IQR
  // fences, and the exact outlier count: the five-number summary every
  // distribution dashboard draws. The three quartiles come from ONE
  // selectAtRanks pass (the sort-free two-phase histogram walk, shared
  // with q_ag_exact_quantiles), pivoted to a k-row digest; the 1.5·IQR
  // fences stay EXACT INTEGERS by doubling — 2v < 5·q1 − 3·q3 is
  // outlier-low and 2v > 5·q3 − 3·q1 outlier-high, so the flag pass is
  // pure integer comparison against broadcast bounds with no
  // fractional fence to drift. Scale: two bounded passes over the
  // cents column + digest arithmetic.
  def boxplot(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("v"))
      .localCheckpoint() // selection passes + the outlier pass read it
    val qs = selectAtRanks(base,
      Seq(("q1", 1L, 4L), ("med", 1L, 2L), ("q3", 3L, 4L)))
    val piv = qs.groupBy("g", "n")
      .agg(max(when(col("quantile") === "q1", col("value_cents"))).as("q1c"),
        max(when(col("quantile") === "med", col("value_cents"))).as("medc"),
        max(when(col("quantile") === "q3", col("value_cents"))).as("q3c"))
    val outliers = base.join(broadcast(piv.select("g", "q1c", "q3c")), "g")
      .filter(col("v") * 2 < col("q1c") * 5 - col("q3c") * 3 ||
        col("v") * 2 > col("q3c") * 5 - col("q1c") * 3)
      .groupBy("g").agg(count(lit(1)).as("n_outliers"))
    piv.join(outliers, Seq("g"), "left")
      .select(col("g").as("event_type"), col("n"),
        (col("q1c").cast("double") / 100.0).as("q1"),
        (col("medc").cast("double") / 100.0).as("median"),
        (col("q3c").cast("double") / 100.0).as("q3"),
        ((col("q3c") - col("q1c")).cast("double") / 100.0).as("iqr"),
        ((col("q1c") * 5 - col("q3c") * 3).cast("double") / 200.0)
          .as("lo_fence"),
        ((col("q3c") * 5 - col("q1c") * 3).cast("double") / 200.0)
          .as("hi_fence"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  val boxplotSql: String =
    """WITH b AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |r AS MATERIALIZED (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
      |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
      |  FROM b),
      |q(label, num, den) AS (VALUES ('q1', 1, 4), ('med', 1, 2), ('q3', 3, 4)),
      |sel AS MATERIALIZED (
      |  SELECT g, n, label, v FROM r JOIN q
      |  ON rk = (n * num + den - 1) // den),
      |piv AS MATERIALIZED (
      |  SELECT g, n,
      |    max(CASE WHEN label = 'q1' THEN v END) AS q1c,
      |    max(CASE WHEN label = 'med' THEN v END) AS medc,
      |    max(CASE WHEN label = 'q3' THEN v END) AS q3c
      |  FROM sel GROUP BY 1, 2),
      |outl AS MATERIALIZED (
      |  SELECT b.g, CAST(count(*) AS BIGINT) AS n_outliers
      |  FROM b JOIN piv ON b.g = piv.g
      |  WHERE b.v * 2 < piv.q1c * 5 - piv.q3c * 3
      |     OR b.v * 2 > piv.q3c * 5 - piv.q1c * 3
      |  GROUP BY 1)
      |SELECT piv.g AS event_type, piv.n,
      |  q1c::DOUBLE / 100.0 AS q1,
      |  medc::DOUBLE / 100.0 AS median,
      |  q3c::DOUBLE / 100.0 AS q3,
      |  (q3c - q1c)::DOUBLE / 100.0 AS iqr,
      |  (q1c * 5 - q3c * 3)::DOUBLE / 200.0 AS lo_fence,
      |  (q3c * 5 - q1c * 3)::DOUBLE / 200.0 AS hi_fence,
      |  coalesce(o.n_outliers, 0) AS n_outliers
      |FROM piv LEFT JOIN outl o ON piv.g = o.g
      |ORDER BY event_type""".stripMargin

  // --- q_ag_levene ------------------------------------------------------------
  // BROWN–FORSYTHE VARIANCE-HOMOGENEITY TEST — the assumption check
  // behind q_ag_anova ("equal variances" is what the F-test leans on):
  // a one-way ANOVA on |x − median_g|, median-centered so the screen
  // is robust to the same outliers it is hunting. COMPOSES the two
  // existing engines end-to-end: group medians come from the
  // distributed selection walk (selectAtRanks — sort-free at any group
  // cardinality), deviations are exact integer cents, and the F tree
  // is the q_ag_anova discipline (per-group S²/n re-rounded at 1e6 in
  // DECIMAL(38,0), fixed-order doubles, degenerate guards). Scale: two
  // bounded selection passes + one moment aggregation.
  def levene(s: SparkSession, d: String): DataFrame = {
    val base = Tables.events(s, d)
      .select(col("event_type").as("g"),
        round(col("value") * 100).cast("long").as("v"))
      .localCheckpoint() // selection + deviation passes read it
    val med = selectAtRanks(base, Seq(("m", 1L, 2L)))
      .select(col("g"), col("value_cents").as("med"))
    val m = base.join(broadcast(med), "g")
      .select(col("g"), abs(col("v") - col("med")).as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"),
        sum((col("c") * col("c")).cast("decimal(38,0)")).as("qg"))
      .withColumn("tg",
        (col("sg").cast("decimal(38,0)") * col("sg")).cast("double") /
          col("ng").cast("double"))
    m.groupBy()
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sg")).as("stot"), sum(col("qg")).as("qtot"),
        sum(round(col("tg") / 1e6).cast("decimal(38,0)")).as("t6"))
      .withColumn("t", col("t6").cast("double") * 1e6)
      .withColumn("grand",
        (col("stot").cast("decimal(38,0)") * col("stot")).cast("double") /
          col("n").cast("double"))
      .withColumn("ssb", (col("t") - col("grand")) / 1e4)
      .withColumn("ssw", (col("qtot").cast("double") - col("t")) / 1e4)
      .select(col("k"), col("n"),
        col("ssb").as("ss_between"), col("ssw").as("ss_within"),
        when(col("k") > 1L && col("ssw") > 0.0,
          col("ssb") / (col("k").cast("double") - 1.0) /
            (col("ssw") / (col("n").cast("double") - col("k").cast("double"))))
          .otherwise(lit(0.0)).as("f_bf"))
  }

  val leveneSql: String =
    """WITH b AS MATERIALIZED (
      |  SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS v
      |  FROM events),
      |med AS MATERIALIZED (
      |  SELECT g, v AS med FROM (
      |    SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
      |      CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
      |    FROM b) WHERE rk = (n + 1) // 2),
      |m AS MATERIALIZED (
      |  SELECT b.g, CAST(count(*) AS BIGINT) AS ng,
      |    CAST(sum(abs(b.v - med.med)) AS BIGINT) AS sg,
      |    sum(CAST(abs(b.v - med.med) * abs(b.v - med.med)
      |      AS DECIMAL(38,0))) AS qg
      |  FROM b JOIN med ON b.g = med.g GROUP BY 1),
      |terms AS MATERIALIZED (
      |  SELECT ng, sg, qg,
      |    CAST(CAST(sg AS DECIMAL(38,0)) * sg AS DOUBLE) / ng::DOUBLE AS tg
      |  FROM m),
      |agg AS MATERIALIZED (
      |  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(ng) AS BIGINT) AS n,
      |    CAST(sum(sg) AS BIGINT) AS stot, sum(qg) AS qtot,
      |    sum(CAST(round(tg / 1e6) AS DECIMAL(38,0))) AS t6
      |  FROM terms),
      |calc AS MATERIALIZED (
      |  SELECT k, n, t6::DOUBLE * 1e6 AS t,
      |    CAST(CAST(stot AS DECIMAL(38,0)) * stot AS DOUBLE) / n::DOUBLE
      |      AS grand,
      |    qtot::DOUBLE AS q
      |  FROM agg)
      |SELECT k, n,
      |  (t - grand) / 1e4 AS ss_between,
      |  (q - t) / 1e4 AS ss_within,
      |  CASE WHEN k > 1 AND (q - t) / 1e4 > 0.0 THEN
      |    ((t - grand) / 1e4) / (k::DOUBLE - 1.0) /
      |      (((q - t) / 1e4) / (n::DOUBLE - k::DOUBLE))
      |    ELSE 0.0 END AS f_bf
      |FROM calc""".stripMargin

  // --- q_ev_gap_quantiles -------------------------------------------------------
  // INTER-EVENT GAP QUANTILES per event type — the latency-of-behavior
  // distribution (p50/p90/p99 seconds between consecutive same-type
  // events of a user) that calibrates session timeouts (q_t4's 30-min
  // gap) and debounce windows (q_t11) from data instead of folklore.
  // Gaps come from ONE user+type-keyed window pass (lag — the CEP
  // shape, never a self-join); whole-second gaps are exact BIGINTs in
  // the value domain, and the three quantiles ride the SHARED
  // distributed selection walk at its fourth call site (prices,
  // deviations, slopes, now gaps). Ceiling-rank order statistics, so
  // every reported value is an actually-observed gap.
  def gapQuantiles(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy("ts", "event_id")
    val base = Tables.events(s, d)
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("event_type").as("g"),
        // integer micros divide on BOTH sides: a double→BIGINT cast
        // truncates in Spark but rounds in DuckDB (the histogram trap)
        expr("(unix_micros(ts) - unix_micros(prev)) DIV 1000000").as("v"))
      .localCheckpoint() // three selection passes read it
    selectAtRanks(base,
      Seq(("p50", 1L, 2L), ("p90", 9L, 10L), ("p99", 99L, 100L)))
      .select(col("g").as("event_type"), col("quantile"), col("n"),
        col("value_cents").as("gap_seconds"))
      .orderBy("event_type", "quantile")
  }

  val gapQuantilesSql: String =
    """WITH gaps AS MATERIALIZED (
      |  SELECT event_type AS g,
      |    (epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)) // 1000000 AS v,
      |    lag(ts, 1) OVER w AS prev
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)),
      |b AS MATERIALIZED (SELECT g, v FROM gaps WHERE prev IS NOT NULL),
      |r AS MATERIALIZED (
      |  SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rk,
      |    CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS n
      |  FROM b),
      |q(label, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
      |  ('p99', 99, 100))
      |SELECT g AS event_type, label AS quantile, n, v AS gap_seconds
      |FROM r JOIN q ON rk = (n * num + den - 1) // den
      |ORDER BY event_type, quantile""".stripMargin

  // --- q_ev_growth ------------------------------------------------------------
  // GROWTH ACCOUNTING — the daily new-vs-returning user split every
  // product dashboard leads with: per day, how many active users are
  // seen for the FIRST time ever vs returning. Each user's first-ever
  // day is one user-grain aggregation (min over the deterministic
  // timestamp); the (user, day) activity digest left-classifies
  // against it with a broadcast, and the day-grain rollup is exact
  // integers. Scale: two aggregations + a user-keyed broadcast join —
  // no window over the event stream, nothing row-grain after the
  // first groupBy.
  def growth(s: SparkSession, d: String): DataFrame = {
    val byDay = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
      .distinct()
    val firstDay = byDay.groupBy("user_id").agg(min(col("day")).as("fd"))
    byDay.join(firstDay, "user_id")
      .groupBy("day")
      .agg(sum(when(col("day") === col("fd"), 1L).otherwise(0L))
        .as("new_users"),
        sum(when(col("day") =!= col("fd"), 1L).otherwise(0L))
          .as("returning_users"))
      .select(col("day"),
        (col("new_users") + col("returning_users")).as("active_users"),
        col("new_users"), col("returning_users"),
        (col("new_users").cast("double") /
          (col("new_users") + col("returning_users")).cast("double"))
          .as("new_frac"))
      .orderBy("day")
  }

  val growthSql: String =
    """WITH by_day AS MATERIALIZED (
      |  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |fd AS MATERIALIZED (
      |  SELECT user_id, min(day) AS fd FROM by_day GROUP BY 1),
      |cls AS MATERIALIZED (
      |  SELECT b.day,
      |    CAST(sum(CASE WHEN b.day = fd.fd THEN 1 ELSE 0 END) AS BIGINT)
      |      AS new_users,
      |    CAST(sum(CASE WHEN b.day <> fd.fd THEN 1 ELSE 0 END) AS BIGINT)
      |      AS returning_users
      |  FROM by_day b JOIN fd USING (user_id) GROUP BY 1)
      |SELECT day, new_users + returning_users AS active_users,
      |  new_users, returning_users,
      |  new_users::DOUBLE / (new_users + returning_users)::DOUBLE AS new_frac
      |FROM cls ORDER BY day""".stripMargin

  // --- q_ev_cuped -------------------------------------------------------------
  // CUPED VARIANCE REDUCTION (Deng et al. 2013, public — "Improving the
  // Sensitivity of Online Controlled Experiments"): the pre-period
  // covariate adjustment every experimentation platform applies before
  // reading a metric. Users split their activity at the corpus
  // midpoint timestamp (integer-micros arithmetic, in-plan scalar):
  // pre-period spend is the covariate, post-period spend the metric;
  // theta is the OLS slope of post on pre, and the variance reduction
  // CUPED delivers equals the regression r² — reported as var(post),
  // var(adjusted) and the reduction %. Moments ride the linreg
  // discipline: per-user cent sums are exact BIGINTs, the five moments
  // accumulate in DECIMAL(38,0) (user-grain squares ≈ 10¹² — BIGINT
  // sums would wrap at ~10⁶ users), each casts to double ONCE, and the
  // closed forms are fixed operand-order trees ⇒ identical bits in
  // both engines. Scale: one scan → user-grain conditional sums
  // (map-side combined) → a 1-row moment digest.
  def cuped(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      unix_micros(col("ts")).as("us"),
      round(col("value") * 100).cast("long").as("cents"))
    // integer div on both sides: `/` is double division in BOTH engines
    // and their double->int casts disagree (Spark truncates, DuckDB
    // rounds) — the q_ag_histogram lesson
    val mid = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
      .select((col("lo") + expr("(hi - lo) div 2")).as("mid"))
    val perUser = ev.crossJoin(broadcast(mid))
      .groupBy("user_id")
      .agg(sum(when(col("us") < col("mid"), col("cents")).otherwise(lit(0L))).as("x"),
        sum(when(col("us") >= col("mid"), col("cents")).otherwise(lit(0L))).as("y"))
    // products cast to DECIMAL BEFORE multiplying: unlike linreg's
    // per-ROW cents, x/y here are unbounded per-USER sums — a 64-bit
    // x*x wraps silently in Spark past ~3e9 cents while DuckDB errors
    val m = perUser.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      sum(col("x").cast("decimal(18,0)") * col("x").cast("decimal(18,0)")).as("sxx"),
      sum(col("x").cast("decimal(18,0)") * col("y").cast("decimal(18,0)")).as("sxy"),
      sum(col("y").cast("decimal(18,0)") * col("y").cast("decimal(18,0)")).as("syy"))
    m.withColumn("nd", col("n").cast("double"))
      .withColumn("cxy", col("nd") * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double"))
      .withColumn("cxx", col("nd") * col("sxx").cast("double")
        - col("sx").cast("double") * col("sx").cast("double"))
      .withColumn("cyy", col("nd") * col("syy").cast("double")
        - col("sy").cast("double") * col("sy").cast("double"))
      .withColumn("theta",
        when(col("cxx") > 0.0, col("cxy") / col("cxx")).otherwise(0.0))
      .withColumn("r2",
        when(col("cxx") > 0.0 && col("cyy") > 0.0,
          col("cxy") / col("cxx") * col("cxy") / col("cyy")).otherwise(0.0))
      .select(col("n").as("n_users"), col("theta"),
        (col("cyy") / (col("nd") * col("nd")) / 10000.0).as("var_post"),
        (col("cyy") / (col("nd") * col("nd")) / 10000.0 * (lit(1.0) - col("r2")))
          .as("var_adj"),
        (col("r2") * 100.0).as("reduction_pct"))
  }

  lazy val cupedSql: String =
    s"""WITH ev AS MATERIALIZED (
       |  SELECT user_id, epoch_us(ts) AS us,
       |    CAST(round(value * 100) AS BIGINT) AS cents
       |  FROM events),
       |mid AS MATERIALIZED (
       |  SELECT min(us) + (max(us) - min(us)) // 2 AS mid FROM ev),
       |pu AS MATERIALIZED (
       |  SELECT user_id,
       |    CAST(sum(CASE WHEN us < mid THEN cents ELSE 0 END) AS BIGINT) AS x,
       |    CAST(sum(CASE WHEN us >= mid THEN cents ELSE 0 END) AS BIGINT) AS y
       |  FROM ev, mid GROUP BY user_id),
       |m AS MATERIALIZED (
       |  SELECT count(*) AS n,
       |    sum(CAST(x AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
       |    sum(CAST(x AS DECIMAL(18,0)) * CAST(x AS DECIMAL(18,0))) AS sxx,
       |    sum(CAST(x AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS sxy,
       |    sum(CAST(y AS DECIMAL(18,0)) * CAST(y AS DECIMAL(18,0))) AS syy
       |  FROM pu),
       |t AS MATERIALIZED (
       |  SELECT n, CAST(n AS DOUBLE) AS nd,
       |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
       |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
       |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy
       |  FROM m)
       |SELECT n AS n_users,
       |  CASE WHEN cxx > 0.0 THEN cxy / cxx ELSE 0.0 END AS theta,
       |  cyy / (nd * nd) / 10000.0 AS var_post,
       |  cyy / (nd * nd) / 10000.0 * (1.0 - CASE WHEN cxx > 0.0 AND cyy > 0.0
       |    THEN cxy / cxx * cxy / cyy ELSE 0.0 END) AS var_adj,
       |  (CASE WHEN cxx > 0.0 AND cyy > 0.0
       |    THEN cxy / cxx * cxy / cyy ELSE 0.0 END) * 100.0 AS reduction_pct
       |FROM t""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ev_cuped" -> (cuped _),
    "q_ag_cohens_d" -> (cohensD _),
    "q_ev_gap_quantiles" -> (gapQuantiles _),
    "q_ev_growth" -> (growth _),
    "q_ag_levene" -> (levene _),
    "q_ev_markov_stationary" -> (markovStationary _),
    "q_ag_boxplot" -> (boxplot _),
    "q_ag_proptest" -> (proptest _),
    "q_ag_entropy" -> (entropy _),
    "q_ev_paths" -> (paths _),
    "q_ev_survival" -> (survival _),
    "q_ag_chi2" -> (chi2 _),
    "q_ag_anova" -> (anova _),
    "q_ag_kendall" -> (kendall _),
    "q_ev_gini" -> (gini _),
    "q_ev_attribution" -> (attribution _),
    "q_ev_attribution_u" -> (attributionU _),
    "q_ag_mode" -> (mode _),
    "q_ag_bootstrap" -> (bootstrap _),
    "q_ev_dau_cum" -> (dauCum _),
    "q_ev_stickiness" -> (stickiness _),
    "q_ev_funnel_time" -> (funnelTime _),
    "q_ag_ttest" -> (ttest _),
    "q_ag_did" -> (did _),
    "q_ag_linreg" -> (linreg _),
    "q_ag_spearman" -> (spearman _),
    "q_ag_ks" -> (ks _),
    "q_ev_pattern" -> (pattern _),
    "q_ag_mwu" -> (mwu _),
    "q_ev_cohort_ltv" -> (cohortLtv _),
    "q_ag_winsorize" -> (winsorize _),
    "q_ag_benford" -> (benford _),
    "q_ev_rfm" -> (rfm _),
    "q_ag_exact_median" -> (exactMedian _),
    "q_ag_exact_quantiles" -> (exactQuantiles _),
    "q_ag_kmv_sets" -> (kmvSets _),
    "q_ag_topk_group" -> (topkGroup _),
    "q_ev_funnel" -> (funnel _),
    "q_ev_transitions" -> (transitions _),
    "q_w12_snapshot_diff" -> (snapshotDiff _),
    "q_ev_next_pred" -> (nextPred _),
    "q_ev_seq_support" -> (seqSupport _),
    "q_ev_pareto" -> (pareto _),
    "q_ev_theil" -> (theil _),
    "q_ag_power" -> (power _),
    "q_ag_krippendorff" -> (krippendorff _),
    "q_ev_retention" -> (retention _),
    "q_ag_histogram" -> (histogram _),
    "q_w7_scd2" -> (scd2 _),
    "q_ag_rollup" -> (rollup _),
    "q_ag_cube" -> (cube _),
    "q_ag_grouping_sets" -> (groupingSets _),
    "q_ag_percentiles" -> (percentiles _),
    "q_ag_pivot" -> (pivotCounts _),
    "q_ag_approx_distinct" -> (approxDistinct _),
    "q_ag_hll_relational" -> (hllRelational _),
    "q_ag_cms" -> (cms _),
    "q_ag_dyadic_quantile" -> (dyadicQuantile _),
    "q_ag_dyadic_grouped" -> (dyadicGrouped _),
    "q_ag_dyadic_range" -> (dyadicRange _),
    "q_ag_approx_percentile" -> (approxPercentile _),
    "q_ag_incr_merge" -> (incrMerge _),
    "q_ag_incr_join" -> (incrJoin _),
    "q_j6_semijoin" -> (semijoin _),
    "q_j7_outer_join" -> (outerJoin _),
    "q_o4_range_frame" -> (rangeFrame _))

  /** The sketch rows (q_ag_approx_distinct, q_ag_approx_percentile)
    * oracle their BOUNDS, not their estimates: the Spark side computes
    * the documented error check in-plan and the twin asserts literal
    * TRUE — a drifting sketch breaks the hash like any wrong value. */
  val oracles: Map[String, String] = Map(
    "q_ag_approx_distinct" -> approxDistinctSql,
    "q_ag_approx_percentile" -> approxPercentileSql,
    "q_ev_gap_quantiles" -> gapQuantilesSql,
    "q_ev_growth" -> growthSql,
    "q_ag_levene" -> leveneSql,
    "q_ev_markov_stationary" -> markovStationarySql,
    "q_ag_boxplot" -> boxplotSql,
    "q_ag_proptest" -> proptestSql,
    "q_ag_entropy" -> entropySql,
    "q_ev_paths" -> pathsSql,
    "q_ev_survival" -> survivalSql,
    "q_ag_chi2" -> chi2Sql,
    "q_ag_anova" -> anovaSql,
    "q_ag_kendall" -> kendallSql,
    "q_ev_gini" -> giniSql,
    "q_ev_cuped" -> cupedSql,
    "q_ag_cohens_d" -> cohensDSql,
    "q_ag_hll_relational" -> hllRelationalSql,
    "q_ag_cms" -> cmsSql,
    "q_ag_dyadic_quantile" -> dyadicQuantileSql,
    "q_ag_dyadic_grouped" -> dyadicGroupedSql,
    "q_ag_dyadic_range" -> dyadicRangeSql,
    "q_ag_topk_group" -> topkGroupSql,
    "q_ev_funnel" -> funnelSql,
    "q_ev_transitions" -> transitionsSql,
    "q_w12_snapshot_diff" -> snapshotDiffSql,
    "q_ev_next_pred" -> nextPredSql,
    "q_ev_seq_support" -> seqSupportSql,
    "q_ev_pareto" -> paretoSql,
    "q_ev_theil" -> theilSql,
    "q_ag_power" -> powerSql,
    "q_ag_krippendorff" -> krippendorffSql,
    "q_ev_retention" -> retentionSql,
    "q_ag_histogram" -> histogramSql,
    "q_w7_scd2" -> scd2Sql,
    "q_ag_rollup" -> rollupSql,
    "q_ag_cube" -> cubeSql,
    "q_ag_grouping_sets" -> groupingSetsSql,
    "q_ag_percentiles" -> percentilesSql,
    "q_ag_pivot" -> pivotCountsSql,
    "q_ag_incr_merge" -> incrMergeSql,
    "q_ag_incr_join" -> incrJoinSql,
    "q_ev_attribution" -> attributionSql,
    "q_ev_attribution_u" -> attributionUSql,
    "q_ag_mode" -> modeSql,
    "q_ag_bootstrap" -> bootstrapSql,
    "q_ev_dau_cum" -> dauCumSql,
    "q_ev_stickiness" -> stickinessSql,
    "q_ev_funnel_time" -> funnelTimeSql,
    "q_ag_ttest" -> ttestSql,
    "q_ag_did" -> didSql,
    "q_ag_linreg" -> linregSql,
    "q_ag_spearman" -> spearmanSql,
    "q_ag_ks" -> ksSql,
    "q_ev_pattern" -> patternSql,
    "q_ag_mwu" -> mwuSql,
    "q_ev_cohort_ltv" -> cohortLtvSql,
    "q_ag_winsorize" -> winsorizeSql,
    "q_ag_benford" -> benfordSql,
    "q_ev_rfm" -> rfmSql,
    "q_ag_exact_median" -> exactMedianSql,
    "q_ag_exact_quantiles" -> exactQuantilesSql,
    "q_ag_kmv_sets" -> kmvSetsSql,
    "q_j6_semijoin" -> semijoinSql,
    "q_j7_outer_join" -> outerJoinSql,
    "q_o4_range_frame" -> rangeFrameSql)
}
