package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.core.OptionalFilters._

/** Reference-parity relational operators (SURVEY §2.3–§2.6, §3.1, §3.3)
  * demonstrated over the driver test tables. Each entry in [[all]] has a
  * DuckDB oracle in [[oracles]] with identical column names/ordering.
  *
  * Determinism rules (SURVEY §7.4): every query ends in a total-order
  * `orderBy`; double aggregates go through exact DECIMAL(18,2) arithmetic
  * and are cast back to DOUBLE so Spark and DuckDB agree bit-for-bit.
  */
object Relational {

  /** Exact money arithmetic: cast through decimal so parallel summation
    * order can't change the result (floating-point sums are
    * order-dependent; decimal sums aren't). At 100 TB the same trick keeps
    * partial (map-side) aggregation results stable across retries. */
  private def dec(c: String) = col(c).cast("decimal(18,2)")

  // --- q_f1_flagship_page -------------------------------------------------
  // SURVEY §3.1 /v2/data: optional-filter fold (F1) + broadcast dim join
  // (J1) + total-order sort + OFFSET/LIMIT pagination (O1).
  // Reference: app/api/v2/queries.py:3-26, routes.py:11-38.
  def flagshipPage(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    // Optional params as the API would receive them; None params add no
    // conjunct at all (unlike the reference's non-sargable `:p IS NULL OR`).
    val joined = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
    apply(
      joined,
      eqOpt(col("c_mktsegment"), Some("BUILDING")),
      geOpt(col("o_orderdate"), Some(java.sql.Timestamp.valueOf("1997-01-01 00:00:00"))),
      leOpt(col("o_totalprice"), Some(300000.0)),
      eqOpt(col("o_orderstatus"), None) // absent param → no predicate
    )
      .select("o_orderkey", "o_orderdate", "o_totalprice", "c_name", "c_mktsegment")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .offset(100)
      .limit(1000)
  }

  val flagshipPageSql: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice, c_name, c_mktsegment
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_totalprice <= 300000.0
      |ORDER BY o_orderdate, o_orderkey
      |LIMIT 1000 OFFSET 100""".stripMargin

  // --- q_a0_agg_pricing ---------------------------------------------------
  // Grouped aggregation with exact-decimal sums (the generalized form of
  // the reference's per-series reductions; TPC-H Q1 shape).
  def aggPricing(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-01 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec("l_quantity")).cast("double").as("sum_qty"),
        sum(dec("l_extendedprice")).cast("double").as("sum_base_price"),
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  val aggPricingSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- q_j2_star_join -----------------------------------------------------
  // SURVEY §2.4 J2: multi-way fact ⋈ dim ⋈ dim join; dims broadcast so the
  // only shuffle is the final aggregation (at 100 TB the fact side never
  // moves for the join itself).
  def starJoin(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name")
      .agg(
        sum(dec("l_extendedprice") * (lit(1) - dec("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("n_name")
  }

  val starJoinSql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // --- q_a1_distinct ------------------------------------------------------
  // SURVEY §2.5 A1: DISTINCT scan + sort (discovery.py:11-13 analog).
  def distinctScan(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select("event_type").distinct().orderBy("event_type")

  val distinctScanSql: String =
    "SELECT DISTINCT event_type FROM events ORDER BY event_type"

  // --- q_a2_distinct_multi ------------------------------------------------
  // SURVEY §2.5 A2: multi-column distinct after null-drop
  // (series_autoregister.py:69-74 analog).
  def distinctMulti(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select("lang", "source").na.drop().dropDuplicates()
      .orderBy("lang", "source")

  val distinctMultiSql: String =
    """SELECT DISTINCT lang, source FROM documents
      |WHERE lang IS NOT NULL AND source IS NOT NULL
      |ORDER BY lang, source""".stripMargin

  // --- q_o2_topk_recent ---------------------------------------------------
  // SURVEY §2.6 O2: top-k by recency. Spark plans TakeOrderedAndProject —
  // a per-partition heap + driver merge, no global sort, which is exactly
  // what survives a 100 TB scan. event_id breaks ts ties for determinism.
  def topkRecent(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy(col("ts").desc, col("event_id").desc)
      .limit(100)

  val topkRecentSql: String =
    """SELECT event_id, ts, user_id, event_type, value FROM events
      |ORDER BY ts DESC, event_id DESC LIMIT 100""".stripMargin

  // --- q_f1_get_history ---------------------------------------------------
  // SURVEY §3.3 gas_client.get_history: single-series time slice. With the
  // fact table partitioned/sorted on (series, time) this is a pruned range
  // scan, the 100 TB-safe access path the reference got from its B-tree PK.
  def getHistory(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id") === 7 &&
        col("ts").between(
          java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
      .select("event_id", "ts", "event_type", "value")
      .orderBy("ts", "event_id")

  val getHistorySql: String =
    """SELECT event_id, ts, event_type, value FROM events
      |WHERE user_id = 7
      |  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-25 00:00:00'
      |ORDER BY ts, event_id""".stripMargin

  // --- q_w4_delete_refresh ------------------------------------------------
  // SURVEY §2.2 W4 / §2.4 J3: DELETE-via-join as a left-anti keep-set
  // (gie/service.py:40-48). The anti-join is broadcastable because the
  // delete key set is small relative to the fact table.
  def deleteRefresh(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val building = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    o.join(broadcast(building), o("o_custkey") === building("c_custkey"), "left_anti")
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val deleteRefreshSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM customer
      |  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
      |ORDER BY o_orderkey""".stripMargin

  // --- q_w3_catalog_antijoin ----------------------------------------------
  // SURVEY §2.2 W3 / §2.4 J4: INSERT-on-conflict-do-nothing as a left-anti
  // join of candidate keys against the existing catalog — set-oriented,
  // replacing the reference's per-row SELECT-then-INSERT loop
  // (gie/series_builder.py:5-61).
  def catalogAntijoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val cutoff = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    val existing = ev.filter(col("ts") < cutoff).select("user_id", "event_type").distinct()
    val candidates = ev.filter(col("ts") >= cutoff).select("user_id", "event_type").distinct()
    candidates.join(existing, Seq("user_id", "event_type"), "left_anti")
      .orderBy("user_id", "event_type")
  }

  val catalogAntijoinSql: String =
    """WITH existing AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |  WHERE ts < TIMESTAMP '2024-01-02 00:00:00'),
      |candidates AS (
      |  SELECT DISTINCT user_id, event_type FROM events
      |  WHERE ts >= TIMESTAMP '2024-01-02 00:00:00')
      |SELECT user_id, event_type FROM candidates
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM existing e
      |  WHERE e.user_id = candidates.user_id
      |    AND e.event_type = candidates.event_type)
      |ORDER BY user_id, event_type""".stripMargin

  // --- q_a6_lww_dedup -----------------------------------------------------
  // SURVEY §2.5 A6 / §2.2 W2: last-write-wins dedup (loader.py:13-18) —
  // keep the most recent event per (user_id, event_type) key via a
  // row_number window; ties broken by event_id for determinism.
  def lwwDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_type", "ts", "value")
      .orderBy("user_id", "event_type")
  }

  val lwwDedupSql: String =
    """SELECT user_id, event_type, ts, value FROM (
      |  SELECT user_id, event_type, ts, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
      |                       ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  // --- q_w11_cdc_apply ----------------------------------------------------
  // CDC op-log APPLY — the Debezium-shaped change stream the LWW upsert
  // (W2) and delete-refresh (W4) are special cases of: each change
  // carries an operation (I/U/D) and a total-ordered position, and
  // applying the log means "per key, the LAST op decides": I/U
  // materialize that op's value, D removes the key entirely. The op
  // column derives deterministically from event_type (signup → I,
  // error → D, everything else → U); the position is (ts, event_id) —
  // tie-free. ONE window over the key (same single shuffle as the LWW
  // row; the delete path adds no join, unlike W4's anti-join form),
  // then a filter on the winning op. Emitted per surviving key: the
  // final value, the winning op, and the total op count — the count
  // pins that the full log was read, not just the winners.
  def cdcApply(s: SparkSession, d: String): DataFrame = {
    val op = when(col("event_type") === "signup", lit("I"))
      .when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        op.as("op"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(
        Window.partitionBy("user_id")))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"), col("ts").as("last_ts"),
        col("value"), col("n_ops"))
      .orderBy("user_id")
  }

  val cdcApplySql: String =
    """SELECT user_id, op AS last_op, ts AS last_ts, value, n_ops FROM (
      |  SELECT user_id, ts, value,
      |    CASE WHEN event_type = 'signup' THEN 'I'
      |         WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn,
      |    COUNT(*) OVER (PARTITION BY user_id) AS n_ops
      |  FROM events) t
      |WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  // --- q_w13_time_travel --------------------------------------------------
  // TIME TRAVEL over the CDC op-log — the lakehouse "VERSION AS OF"
  // semantics expressed relationally: the table state at time T is the
  // last-op-wins application (q_w11's rule) of every op with ts ≤ T.
  // Three weekly snapshots reconstruct in ONE pass: each op explodes to
  // the snapshots it precedes, then the same single (snap, key) window
  // picks the winner per snapshot — no per-snapshot rescan of the log.
  // At 100 TB the production form checkpoints periodic snapshots and
  // replays only the delta since the nearest one (exactly q_w12's diff
  // machinery run in reverse); the reconstruction rule pinned here is
  // the correctness contract those checkpoints must preserve.
  private val TravelSnaps =
    Seq("2024-01-08 00:00:00", "2024-01-15 00:00:00", "2024-01-22 00:00:00")

  def timeTravel(s: SparkSession, d: String): DataFrame = {
    val op = when(col("event_type") === "signup", lit("I"))
      .when(col("event_type") === "error", lit("D")).otherwise(lit("U"))
    val w = Window.partitionBy("snap", "user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        op.as("op"),
        explode(array(TravelSnaps.map(t =>
          to_timestamp(lit(t))): _*)).as("snap"))
      .filter(col("ts") <= col("snap"))
      .withColumn("rn", row_number().over(w))
      .withColumn("n_ops", count(lit(1)).over(
        Window.partitionBy("snap", "user_id")))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("snap"), col("user_id"), col("op").as("last_op"),
        col("value"), col("n_ops"))
      .orderBy("snap", "user_id")
  }

  val timeTravelSql: String = {
    val vals = TravelSnaps.map(t => s"(TIMESTAMP '$t')").mkString(", ")
    s"""WITH snaps(snap) AS (VALUES $vals),
       |x AS (
       |  SELECT s.snap, e.user_id, e.ts, e.event_id, e.value,
       |    CASE WHEN e.event_type = 'signup' THEN 'I'
       |         WHEN e.event_type = 'error' THEN 'D' ELSE 'U' END AS op,
       |    ROW_NUMBER() OVER (PARTITION BY s.snap, e.user_id
       |                       ORDER BY e.ts DESC, e.event_id DESC) AS rn,
       |    COUNT(*) OVER (PARTITION BY s.snap, e.user_id) AS n_ops
       |  FROM events e JOIN snaps s ON e.ts <= s.snap)
       |SELECT snap, user_id, op AS last_op, value, n_ops
       |FROM x WHERE rn = 1 AND op <> 'D'
       |ORDER BY snap, user_id""".stripMargin
  }

  // --- q_o1_window_rank ---------------------------------------------------
  // Generalized windowed ranking (SURVEY §2.5 note): top-3 orders per
  // customer by price. One shuffle on the partition key, then a local sort.
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
      .orderBy("o_custkey", "rnk")
  }

  val windowRankSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      |  FROM orders) t
      |WHERE rnk <= 3
      |ORDER BY o_custkey, rnk""".stripMargin

  // --- q_o5_ntile ---------------------------------------------------------
  // Distribution-position window functions over the per-customer order
  // history: quartile (ntile), cumulative distribution, and the previous
  // price (lag) — the analytic trio behind spend-percentile features.
  // The (price desc, orderkey) ordering is tie-free, so ntile/cume_dist
  // are engine-exact. Same single-shuffle shape as any per-key window.
  def ntileProfile(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        ntile(4).over(w).as("quartile"),
        cume_dist().over(w).as("cdist"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"))
      .orderBy("o_custkey", "quartile", "o_orderkey")
  }

  val ntileProfileSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |  NTILE(4) OVER w AS quartile,
      |  CUME_DIST() OVER w AS cdist,
      |  LAG(o_totalprice, 1) OVER w AS prev_price
      |FROM orders
      |WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY o_custkey, quartile, o_orderkey""".stripMargin

  // --- q_o6_rank_ties ---------------------------------------------------------
  // percent_rank / cume_dist UNDER TIES — q_o5's trio is tie-free by
  // construction, so it never pins the tie semantics that differ
  // between rank families: percent_rank places every tied row at the
  // FIRST peer's rank ((rank−1)/(n−1)) while cume_dist counts the
  // WHOLE peer group (rows ≤ current / n). Bucketing the value to an
  // integer (floor — NOT a bare cast or round, the engines disagree on
  // those) guarantees real peer groups at every SF, and the
  // (type, bucket, event_id) output order is total. Both quotients are
  // single integer→double divisions with identical operands, so the
  // doubles match bit-for-bit. One window shuffle, like every per-key
  // analytic.
  def rankTies(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("v")
    Tables.events(s, d)
      .select(col("event_id"), col("event_type"),
        floor(col("value")).cast("long").as("v"))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .orderBy("event_type", "v", "event_id")
  }

  val rankTiesSql: String =
    """SELECT event_id, event_type, CAST(floor(value) AS BIGINT) AS v,
      |  PERCENT_RANK() OVER w AS pr,
      |  CUME_DIST() OVER w AS cd
      |FROM events
      |WINDOW w AS (PARTITION BY event_type ORDER BY CAST(floor(value) AS BIGINT))
      |ORDER BY event_type, v, event_id""".stripMargin

  // --- q_f12_keyset_page ----------------------------------------------------
  // KEYSET pagination — the at-scale replacement for q_f1's
  // OFFSET/LIMIT: OFFSET n still produces and discards n rows on the
  // driver-merge path, so deep pages cost O(page_depth); the keyset
  // form carries the last row's (o_orderdate, o_orderkey) cursor and
  // turns "next page" into a pushdown-able range predicate + top-k —
  // O(page) at any depth, and stable under concurrent inserts (an
  // OFFSET page shifts when earlier rows land; a keyset page cannot).
  // The composite cursor predicate is the row-wise (d, k) > (cd, ck)
  // comparison, written as the OR-expansion both engines plan
  // identically; the cut is TakeOrderedAndProject like every top-k.
  private val KeysetCursorDate =
    java.sql.Timestamp.valueOf("1997-06-01 00:00:00")
  private val KeysetCursorKey = 1234L

  def keysetPage(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderdate") > lit(KeysetCursorDate) ||
        (col("o_orderdate") === lit(KeysetCursorDate) &&
          col("o_orderkey") > KeysetCursorKey))
      .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .limit(100)

  val keysetPageSql: String =
    """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderdate > TIMESTAMP '1997-06-01 00:00:00'
      |   OR (o_orderdate = TIMESTAMP '1997-06-01 00:00:00' AND o_orderkey > 1234)
      |ORDER BY o_orderdate, o_orderkey
      |LIMIT 100""".stripMargin

  // --- q_f2_param_sql -------------------------------------------------------
  // SURVEY §2.3 F2 hardened: the reference assembles dynamic WHERE
  // clauses by Python string interpolation (`queries.py` f-strings) —
  // the injection-prone pattern. Spark's answer is PARAMETERIZED SQL
  // (named parameter markers, Spark 3.4+): the text is a constant, the
  // values bind as literals AFTER parsing, so user input can never
  // alter the query shape — and Catalyst folds the bound literals into
  // ordinary pushdown-able predicates (same scan filters as the
  // Column-API q_f1 path; the date slice reaches parquet). Money sums
  // route through DECIMAL(18,2) as everywhere.
  def paramSql(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_param_orders")
    s.sql(
      """SELECT o_orderpriority,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM graft_param_orders
        |WHERE o_orderdate >= CAST(:lo AS TIMESTAMP)
        |  AND o_orderdate < CAST(:hi AS TIMESTAMP)
        |  AND o_totalprice > :minp
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      Map("lo" -> "1996-01-01 00:00:00", "hi" -> "1998-01-01 00:00:00",
        "minp" -> 5000))
  }

  val paramSqlSql: String =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND o_totalprice > 5000
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // --- q_f13_or_rewrite ---------------------------------------------------
  // The reference's optional-filter stack taken VERBATIM — the naive
  // form (`app/api/v2/queries.py:17-23`): every parameter arrives as
  // TEXT from the HTTP layer and the WHERE clause is a stack of
  // `(:p IS NULL OR col = :p)` conjuncts. This query deliberately keeps
  // that shape (unlike q_f1, which builds only defined conjuncts) to
  // exercise the injected optimizer rule (graft.plans.UnwrapStringCast):
  // ConstantFolding clears the IS-NULL scaffolding once parameters
  // bind, and the rule unwraps the surviving text-typed equality
  // `CAST(col AS STRING) = 'p'` into a sargable typed predicate.
  // PlanSpec asserts the with/without-rule plan difference; at 100 TB
  // this is row-group skipping vs a full-column scan on the naive API
  // query a user will inevitably write.
  def orRewrite(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_f13_orders")
    Tables.customer(s, d).createOrReplaceTempView("graft_f13_customer")
    s.sql(
      """SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_orderstatus,
        |  CAST(o.o_totalprice AS DOUBLE) AS price
        |FROM graft_f13_orders o
        |JOIN graft_f13_customer c ON o.o_custkey = c.c_custkey
        |WHERE (:ck IS NULL OR CAST(o.o_custkey AS STRING) = :ck)
        |  AND (:stat IS NULL OR o.o_orderstatus = :stat)
        |  AND (:nk IS NULL OR CAST(c.c_nationkey AS STRING) = :nk)
        |ORDER BY o.o_orderkey""".stripMargin,
      // ck unbound (the optional param left NULL), status + nation bound
      // as the strings the API layer would pass
      Map("ck" -> null, "stat" -> "F", "nk" -> "3"))
  }

  val orRewriteSql: String =
    """SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_orderstatus,
      |  CAST(o.o_totalprice AS DOUBLE) AS price
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE o.o_orderstatus = 'F' AND CAST(c.c_nationkey AS VARCHAR) = '3'
      |ORDER BY o.o_orderkey""".stripMargin

  // --- q_f14_in_rewrite ---------------------------------------------------
  // The IN-list arm of the text-typed filter idiom: the reference's
  // multi-select endpoints bind id LISTS as text. Naive translation
  // leaves `CAST(col AS STRING) IN ('3','7','11')`, which the injected
  // UnwrapStringCast rule rewrites to the typed IN when EVERY literal
  // round-trips (the rewrite is all-or-nothing — one non-canonical
  // member keeps string semantics; PropertySpec pins both branches).
  // Hash-verified here through the full naive SQL shape with bound
  // string params.
  def inRewrite(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_f14_customer")
    s.sql(
      """SELECT c_custkey, c_name, c_nationkey
        |FROM graft_f14_customer
        |WHERE CAST(c_nationkey AS STRING) IN (:a, :b, :c)
        |ORDER BY c_custkey""".stripMargin,
      Map("a" -> "3", "b" -> "7", "c" -> "11"))
  }

  val inRewriteSql: String =
    """SELECT c_custkey, c_name, c_nationkey FROM customer
      |WHERE CAST(c_nationkey AS VARCHAR) IN ('3', '7', '11')
      |ORDER BY c_custkey""".stripMargin

  // --- q_j11_fuzzy --------------------------------------------------------
  // Fuzzy dictionary lookup (record linkage): dirty external names are
  // matched to a reference dictionary by minimum edit distance, with a
  // deterministic (distance, name) struct-min tie-break. The probes here
  // are nation names with the tail chopped — a deterministic stand-in
  // for misspelled feeds, built identically in both engines.
  //
  // 100 TB shape: the DICTIONARY side broadcasts (reference vocabularies
  // are catalog-sized by nature); dirty records stream past it at
  // |records| x |dictionary| levenshtein comparisons per partition. For
  // dictionaries beyond broadcast size the standard step-up is trigram
  // blocking (join on shared 3-grams first, exactly the shingle
  // machinery in Dedup) before the per-candidate edit distance.
  def fuzzyDictionary(s: SparkSession, d: String): DataFrame = {
    val dict = Tables.nation(s, d).select(col("n_name").as("name"))
    val probes = dict.select(
      expr("substring(name, 1, length(name) - 2)").as("probe"))
    probes.crossJoin(broadcast(dict))
      .select(col("probe"),
        struct(levenshtein(col("probe"), col("name")).as("dist"),
          col("name").as("name")).as("cand"))
      .groupBy("probe")
      .agg(min(col("cand")).as("best"))
      .select(col("probe"), col("best.name").as("matched"),
        col("best.dist").cast("long").as("distance"))
      .orderBy("probe")
  }

  val fuzzyDictionarySql: String =
    """WITH dict AS (SELECT n_name AS name FROM nation),
      |probes AS (SELECT substring(name, 1, length(name) - 2) AS probe FROM dict)
      |SELECT probe,
      |  min({'dist': levenshtein(probe, name), 'name': name}).name AS matched,
      |  min({'dist': levenshtein(probe, name), 'name': name}).dist::BIGINT AS distance
      |FROM probes, dict
      |GROUP BY probe
      |ORDER BY probe""".stripMargin

  // --- q_er_blocked -------------------------------------------------------
  // BLOCKED ENTITY RESOLUTION — the at-scale step-up the q_j11_fuzzy
  // comment promises: instead of broadcasting a dictionary and paying
  // |records| × |dict| edit distances, records meet candidates through
  // an EQUI-JOIN on a blocking key, and only same-block pairs are
  // scored. Dirty probes are a deterministic OCR-style corruption
  // (the last two ID digits transposed — an involution, so probe
  // values stay unique and both engines build them identically); the
  // blocking key is the intact HIGH-ORDER digit prefix
  // (substring(id, 10, 6)), which bounds every block at the 10³
  // combinations of the three free low digits — block size is a
  // CONSTANT of the key design, not of corpus size, so the pairwise
  // fan-out grows linearly with records at any SF (the property that
  // makes blocked ER the web-scale linkage shape; skewed natural keys
  // would add the salting/cap guards of the dedup family). Survivor
  // per probe is the deterministic (distance, name) struct-min;
  // `rematch` audits precision against the known source record —
  // honest about transposition collisions, where a swapped ID equals
  // ANOTHER real record (distance 0) and outranks the true one
  // (distance 2): linkage ambiguity is data, not noise. Scale: one
  // bounded-fan-out shuffle join + one digest aggregation.
  def erBlocked(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).select(col("c_name").as("name"))
    val probes = c.select(col("name").as("src"),
      concat(expr("substring(name, 1, 16)"), expr("substring(name, 18, 1)"),
        expr("substring(name, 17, 1)")).as("probe"))
      .withColumn("blk", expr("substring(probe, 10, 6)"))
    val dict = c.withColumn("blk", expr("substring(name, 10, 6)"))
    probes.join(dict, "blk")
      .select(col("src"), col("probe"),
        struct(levenshtein(col("probe"), col("name")).as("dist"),
          col("name").as("name")).as("cand"))
      .groupBy("src", "probe")
      .agg(min(col("cand")).as("best"), count(lit(1)).as("n_candidates"))
      .select(col("probe"), col("best.name").as("matched"),
        col("best.dist").cast("long").as("distance"), col("n_candidates"),
        when(col("best.name") === col("src"), 1L).otherwise(0L).as("rematch"))
      .orderBy("probe")
  }

  val erBlockedSql: String =
    """WITH c AS (SELECT c_name AS name FROM customer),
      |probes AS (
      |  SELECT name AS src,
      |    substring(name, 1, 16) || substring(name, 18, 1)
      |      || substring(name, 17, 1) AS probe
      |  FROM c),
      |pk AS (SELECT src, probe, substring(probe, 10, 6) AS blk FROM probes),
      |dk AS (SELECT name, substring(name, 10, 6) AS blk FROM c),
      |cand AS (
      |  SELECT src, probe,
      |    {'dist': levenshtein(probe, name), 'name': name} AS cand
      |  FROM pk JOIN dk USING (blk))
      |SELECT probe, min(cand).name AS matched,
      |  min(cand).dist::BIGINT AS distance,
      |  CAST(count(*) AS BIGINT) AS n_candidates,
      |  CAST(CASE WHEN min(cand).name = src THEN 1 ELSE 0 END AS BIGINT) AS rematch
      |FROM cand GROUP BY src, probe ORDER BY probe""".stripMargin

  // --- q_a7_unpivot -------------------------------------------------------
  // SURVEY §2.5 A7: wide→long unpivot of the lineitem measures — the
  // set-oriented replacement for the reference's per-metric Python loop
  // (transformer.py:14-39). Narrow slice keeps the verified output small.
  def unpivotMeasures(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") < 200)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "metric_value")
      .orderBy("l_orderkey", "l_linenumber", "metric")

  val unpivotMeasuresSql: String =
    """SELECT l_orderkey, l_linenumber, metric, metric_value FROM (
      |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS metric_value
      |  FROM lineitem WHERE l_orderkey < 200
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
      |  FROM lineitem WHERE l_orderkey < 200
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
      |  FROM lineitem WHERE l_orderkey < 200
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
      |  FROM lineitem WHERE l_orderkey < 200) t
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  // --- q_set_ops ----------------------------------------------------------
  // SURVEY §2.7: set operations (free from Spark, demonstrated anyway).
  def setOps(s: SparkSession, d: String): DataFrame = {
    val early = Tables.events(s, d)
      .filter(col("ts") < java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      .select("user_id").distinct()
    val late = Tables.events(s, d)
      .filter(col("ts") >= java.sql.Timestamp.valueOf("2024-01-15 00:00:00"))
      .select("user_id").distinct()
    early.intersect(late).union(early.except(late)).orderBy("user_id")
  }

  val setOpsSql: String =
    """WITH early AS (SELECT DISTINCT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
      |late AS (SELECT DISTINCT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00')
      |SELECT user_id FROM (
      |  (SELECT user_id FROM early INTERSECT SELECT user_id FROM late)
      |  UNION ALL
      |  (SELECT user_id FROM early EXCEPT SELECT user_id FROM late)) t
      |ORDER BY user_id""".stripMargin

  // --- q_j12_skew_join ------------------------------------------------------
  // AQE skew-join: the COMPLEMENT of Layout.saltedCountSum's manual
  // salting — a 100 TB cluster leans on the runtime split for sort-merge
  // joins on skewed keys (salting is for the shapes AQE can't see,
  // aggregations and broadcast-side replication). The join key is
  // 5-valued with a 60% hot key on the fact side (the textbook hot-key
  // distribution): OptimizeSkewedJoin sees one shuffle partition several
  // times the median non-empty partition, splits it into
  // advisory-sized slices and replicates the matching probe partition.
  // The probe side is the per-type event histogram (pre-aggregated — the
  // standard trick that keeps join output linear in the fact), so the
  // aggregate over the join is provably identical to the unaggregated
  // pair join. The byte thresholds are tuned down so the split fires at
  // test SF (defaults are 256 MB — sized for clusters); production keeps
  // defaults and gets the same plan when a genuinely hot key appears.
  // The tuned confs are scoped to THIS query's execution (localCheckpoint
  // forces the run inside the window, then restores) so they cannot leak
  // into other queries' plans — and the split is a pure execution
  // optimization: results are oracle-identical to the plain join.
  // PlanSpec asserts `skew=true` on the SMJ node after execution.
  private[graft] def skewTunedConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4KB",
    "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true",
    // no broadcast: the point is the shuffled sort-merge join shape
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    // skew detection compares against the MEDIAN non-empty partition, so
    // the 4 cold keys must not share partitions with the hot one — 32
    // partitions keep the 5 keys spread (a 4-partition test session
    // would fold keys together and flatten the skew)
    "spark.sql.shuffle.partitions" -> "32")

  /** Run `f` with `confs` set, restoring prior values after. Mutate-
    * restore is safe only under the driver's SEQUENTIAL execution; it
    * survives here (unlike the streaming drains, which run on a cloned
    * session — `MicroBatch.withStreamSession`) because AQE reads these confs
    * at EXECUTION time on the session the plan was built against, so the
    * execute-inside-window call sites would otherwise have to rebuild
    * their plans on a clone. If concurrent execution is ever added, do
    * exactly that: build + execute on `s.newSession()` per query. */
  private[graft] def withScopedConfs[T](s: SparkSession,
                                        confs: Seq[(String, String)])(f: => T): T = {
    val restore = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally restore.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private[graft] def withSkewTuning[T](s: SparkSession)(f: => T): T =
    withScopedConfs(s, skewTunedConfs)(f)

  /** The raw join+agg plan (un-executed) — shared by the driver row and
    * PlanSpec's skew=true assertion. */
  private[graft] def skewJoinAgg(s: SparkSession, d: String): DataFrame = {
    // probe side: the per-type event histogram (5 rows), typed to the
    // 5-valued join key
    val e = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("bucket",
        when(col("event_type") === "click", 0L)
          .when(col("event_type") === "error", 1L)
          .when(col("event_type") === "purchase", 2L)
          .when(col("event_type") === "signup", 3L)
          .otherwise(4L))
    // fact side: hot-key distribution — orderkeys ending 0-5 (60%) land
    // on bucket 0, the rest spread over 1-4 (10% each). The repartition
    // gives the join's shuffle a REAL map side: skew splits are
    // map-index ranges, and the toy single-file parquet scans as one map
    // task (one row group), which is unsplittable — a production
    // multi-file fact scan has thousands of mappers and needs no such
    // step.
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .repartition(16, col("l_orderkey"))
      .select(
        when(col("l_orderkey") % 10 < 6, 0L)
          .otherwise(col("l_orderkey") % 10 - 5).as("bucket"),
        col("l_quantity"))
    // sums accumulate in DECIMAL(38,0) (the q_tpch_q1 convention):
    // Spark's SUM(BIGINT) is BIGINT (silently overflowable at extreme SF)
    // while DuckDB's is HUGEINT — the decimal accumulator is ONE exact
    // type on both engines before the final BIGINT cast
    e.hint("merge").join(l, Seq("bucket"))
      .groupBy("event_type")
      .agg(sum(col("n_events").cast("decimal(38,0)")).cast("long").as("n_pairs"),
        sum((round(col("l_quantity")).cast("long") * col("n_events"))
          .cast("decimal(38,0)")).cast("long").as("sum_qty"))
  }

  def skewJoin(s: SparkSession, d: String): DataFrame = {
    val agg = skewJoinAgg(s, d)
    // execute inside the tuned-conf window (AQE reads skew confs at run
    // time); the checkpointed result is 5 rows
    val out = withSkewTuning(s) { agg.localCheckpoint() }
    out.orderBy("event_type")
  }

  val skewJoinSql: String =
    """WITH e AS (
      |  SELECT event_type, count(*) AS n_events,
      |    CASE event_type WHEN 'click' THEN 0 WHEN 'error' THEN 1
      |      WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3 ELSE 4 END AS bucket
      |  FROM events GROUP BY event_type),
      |l AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 6 THEN 0
      |              ELSE l_orderkey % 10 - 5 END AS bucket, l_quantity
      |  FROM lineitem)
      |SELECT e.event_type, CAST(SUM(e.n_events) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CAST(round(l.l_quantity) AS BIGINT) * e.n_events) AS BIGINT) AS sum_qty
      |FROM e JOIN l ON e.bucket = l.bucket
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  // --- q_j13_bloom_join -----------------------------------------------------
  // Runtime bloom-filter join pruning — the third runtime-filtering
  // mechanism next to AQE skew splitting (q_j12) and dynamic partition
  // pruning (q_ly_dpp). When a SHUFFLED fact⋈fact join has a selective
  // filter on one side, Spark builds a bloom filter over that side's
  // join keys and pushes `might_contain(...)` onto the other side's
  // scan: non-matching fact rows die before the exchange instead of
  // being shuffled. At 100 TB that is the difference between shuffling
  // all of lineitem and shuffling only the ~20% that can match the
  // urgent orders. The injection thresholds are cluster-sized
  // (application side ≥ 10 GB by default), so — exactly like q_j12's
  // skew thresholds — the row scopes them down to fire at test SF;
  // production keeps defaults and gets the same plan on a real fact.
  // The bloom filter is a pure execution optimization (false positives
  // are re-checked by the join itself), so the oracle is the PLAIN
  // join; PlanSpec asserts `might_contain` reached the lineitem side.
  private[graft] def bloomTunedConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // default 10 GB is sized for clusters; 0 makes the injection
    // decision purely structural at test SF
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    // the mechanism targets shuffled joins (a broadcast join already
    // prunes at the probe): force the shuffle shape at test SF
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private[graft] def withBloomTuning[T](s: SparkSession)(f: => T): T =
    withScopedConfs(s, bloomTunedConfs)(f)

  /** The raw join+agg plan (un-executed) — shared by the driver row and
    * PlanSpec's might_contain assertion. */
  private[graft] def bloomJoinAgg(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"))
      .agg(count(lit(1)).as("n_lines"),
        sum(dec("l_extendedprice")).cast("double").as("sum_price"))
  }

  def bloomJoin(s: SparkSession, d: String): DataFrame = {
    val agg = bloomJoinAgg(s, d)
    // execute inside the tuned-conf window (the injection rule reads its
    // confs at optimization time, which happens on the first action)
    val out = withBloomTuning(s) { agg.localCheckpoint() }
    out.orderBy("o_year", "o_month")
  }

  val bloomJoinSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
      |  CAST(month(o_orderdate) AS INT) AS o_month,
      |  count(*) AS n_lines,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_j12_skew_join" -> (skewJoin _),
    "q_j13_bloom_join" -> (bloomJoin _),
    "q_f1_flagship_page" -> (flagshipPage _),
    "q_f2_param_sql" -> (paramSql _),
    "q_f13_or_rewrite" -> (orRewrite _),
    "q_f14_in_rewrite" -> (inRewrite _),
    "q_f12_keyset_page" -> (keysetPage _),
    "q_a0_agg_pricing" -> (aggPricing _),
    "q_j2_star_join" -> (starJoin _),
    "q_a1_distinct" -> (distinctScan _),
    "q_a2_distinct_multi" -> (distinctMulti _),
    "q_o2_topk_recent" -> (topkRecent _),
    "q_f1_get_history" -> (getHistory _),
    "q_w4_delete_refresh" -> (deleteRefresh _),
    "q_w3_catalog_antijoin" -> (catalogAntijoin _),
    "q_a6_lww_dedup" -> (lwwDedup _),
    "q_w11_cdc_apply" -> (cdcApply _),
    "q_w13_time_travel" -> (timeTravel _),
    "q_o1_window_rank" -> (windowRank _),
    "q_o5_ntile" -> (ntileProfile _),
    "q_o6_rank_ties" -> (rankTies _),
    "q_j11_fuzzy" -> (fuzzyDictionary _),
    "q_er_blocked" -> (erBlocked _),
    "q_a7_unpivot" -> (unpivotMeasures _),
    "q_set_ops" -> (setOps _))

  val oracles: Map[String, String] = Map(
    "q_j12_skew_join" -> skewJoinSql,
    "q_j13_bloom_join" -> bloomJoinSql,
    "q_f1_flagship_page" -> flagshipPageSql,
    "q_f2_param_sql" -> paramSqlSql,
    "q_f13_or_rewrite" -> orRewriteSql,
    "q_f14_in_rewrite" -> inRewriteSql,
    "q_f12_keyset_page" -> keysetPageSql,
    "q_a0_agg_pricing" -> aggPricingSql,
    "q_j2_star_join" -> starJoinSql,
    "q_a1_distinct" -> distinctScanSql,
    "q_a2_distinct_multi" -> distinctMultiSql,
    "q_o2_topk_recent" -> topkRecentSql,
    "q_f1_get_history" -> getHistorySql,
    "q_w4_delete_refresh" -> deleteRefreshSql,
    "q_w3_catalog_antijoin" -> catalogAntijoinSql,
    "q_a6_lww_dedup" -> lwwDedupSql,
    "q_w11_cdc_apply" -> cdcApplySql,
    "q_w13_time_travel" -> timeTravelSql,
    "q_o1_window_rank" -> windowRankSql,
    "q_o5_ntile" -> ntileProfileSql,
    "q_o6_rank_ties" -> rankTiesSql,
    "q_j11_fuzzy" -> fuzzyDictionarySql,
    "q_er_blocked" -> erBlockedSql,
    "q_a7_unpivot" -> unpivotMeasuresSql,
    "q_set_ops" -> setOpsSql)
}
