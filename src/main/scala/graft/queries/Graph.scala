package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Graph analytics over a relation-derived graph. The reference has no
  * graph operators; these are the beyond-reference iterative-relational
  * shapes a training-data pipeline needs when document/link structure
  * matters (domain authority for quality weighting, influence ranking).
  *
  * The graph derives from the star schema where it lives at 100 TB: the
  * supplier↔customer interaction graph — an edge per DISTINCT
  * (supplier, customer) pair that shares an order line, materialized in
  * both directions so every node has out-degree ≥ 1 (no dangling-mass
  * redistribution needed). Nodes are key-disambiguated arithmetically
  * (2·key for suppliers, 2·key+1 for customers) so both engines derive
  * the identical node space without string surgery.
  *
  * PageRank is the canonical "ranks stay distributed" iteration —
  * unlike Lloyd's k-means (Similarity.scala), where the model is k×d
  * doubles and rounds legally collect it to the driver, rank state is
  * node-grain: it must NEVER be collected. Each round is one join
  * (edges ⋈ ranks on src) plus one aggregation (sum of contributions at
  * dst grain) — O(rounds) shuffles total, both keyed so a cluster
  * co-partitions edges once and reuses the partitioning every round.
  * `localCheckpoint` truncates the growing lineage per round (the
  * pointer-jumping lesson from Dedup.clusterKeeper) and materializes
  * the round's ranks, which the next round reads TWICE (contribution
  * side + keep-all-nodes left join) without recompute.
  *
  * Cross-engine bit parity uses the kmeans fixed-point route: per-edge
  * contributions are exact doubles (identical division order), rounded
  * at 1e12 to integers, summed in DECIMAL(38,0) (exact in both
  * engines at any scale), and rebuilt into doubles with one fixed
  * operand order. The DuckDB twin replays all rounds as MATERIALIZED
  * CTEs (plain CTEs inline and re-execute the chain prefix per
  * reference — exponential in rounds).
  */
object Graph {

  private val Damping = 0.85
  // (1 − d) as its OWN literal: Scala's 1.0 − 0.85 is 0.15000000000000002
  // while DuckDB's decimal 1 − 0.85 converts to double 0.15 — different
  // bits. Both engines parse the literal 0.15 to the same nearest double.
  private val Teleport = 0.15
  private val Rounds = 3
  private val Fixed = 1000000000000.0 // 1e12: rank quanta for exact sums

  /** Distinct customer↔supplier interaction pairs — the bipartite
    * substrate under PageRank/PPR/HITS. STAGED once per dataset
    * fingerprint (the coEdges pattern): three iterative operators
    * consume the identical pair set, and re-deriving it per query
    * repeated the lineitem⋈orders shuffle + distinct in each. At
    * 100 TB this materialize-once-per-ingest-tick layout is the
    * design, not a cache. */
  private[graft] def bipartite(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_graph_$tag/bipartite"
    graft.Stage.ensure(root) { tmp =>
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey")
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct().repartition(8, col("cust"))
        .write.parquet(tmp)
    }
    Tables.read(s, root)
  }

  private def edges(s: SparkSession, d: String): DataFrame = {
    val pairs = bipartite(s, d)
      .select((col("supp") * 2).as("s_node"), (col("cust") * 2 + 1).as("c_node"))
    pairs.select(col("s_node").as("src"), col("c_node").as("dst"))
      .union(pairs.select(col("c_node").as("src"), col("s_node").as("dst")))
  }

  // --- q_gr_pagerank: damped PageRank, ranks never leave the cluster ------
  // Per-round volume is edge-grain and that is the irreducible cost:
  // contributions aggregate at dst grain, a different key than the
  // src-side join, so each round moves ~|E| key/weight pairs once.
  // (An explicit repartition(src)+checkpoint was measured at sf0.1 and
  // REGRESSED — 41→54 MB shuffled: the added exchange isn't paid back
  // because checkpointed partitioning doesn't survive into the round's
  // join requirements under AQE. On a real cluster the equivalent win
  // is storage-side: BUCKET the edge table by src — the q_ly_bucketed
  // machinery — which removes the join-side exchange without a runtime
  // repartition.)
  //
  // The NODE-GRAIN state (outdeg, ranks, per-round contributions) rides
  // the same [[BroadcastNodeStateMax]] guarded switch as the other
  // iterative ops: explicitly broadcast below the cap, keyed-shuffle
  // rounds above it (the 100 TB shape — a rank vector over billions of
  // nodes cannot sit on one executor). The explicit hint matters for
  // plan DETERMINISM, not just speed: left to AQE, each round's
  // state-side join was demoted to broadcast at runtime, and whether
  // the already-submitted state-side exchange still ran was a
  // scheduling race — the plan fingerprint flipped 12↔13 exchanges
  // (15→28 MB shuffled) run to run. Statically hinted, the round plans
  // exactly one exchange (the dst-grain aggregation) at every SF below
  // the cap, and the registry's cap_graph_broadcast_nodes row names
  // the switchover.
  def pageRank(s: SparkSession, d: String): DataFrame =
    rankWalk(s, d)((_, n) => (lit(1.0) / n.toDouble, lit(Teleport / n.toDouble)))

  val pageRankSql: String = rankWalkSql(
    init = "1.0 / (SELECT CAST(count(*) AS DOUBLE) FROM o)",
    teleport = "(SELECT 0.15 / CAST(count(*) AS DOUBLE) FROM o)")

  // --- q_gr_ppr: personalized PageRank — the retrieval-serving variant ----
  // Global PageRank answers "what matters overall"; serving wants "what
  // matters NEAR these query nodes" (Haveliwala 2002, topic-sensitive
  // PageRank — public literature). Identical machinery to q_gr_pagerank
  // — same edge table, same per-round join+agg, same 1e12 fixed-point
  // parity route — with ONE change: teleport mass lands only on the
  // seed set (every 5th supplier node here, derived arithmetically so
  // both engines build the identical set), and ranks start as the
  // uniform distribution OVER SEEDS. The teleport "vector" needs no
  // materialization at all: seed membership is a closed-form predicate
  // evaluated in the row, which at 100 TB beats broadcasting an
  // explicit seed table whenever the seed rule is expressible — and
  // degrades to a broadcast semi-join when it isn't. Mass conservation
  // (sum ≈ 1) and locality (seed share far above the uniform share)
  // are pinned in GraphSpec.
  private val PprSeedMod = 5L
  private val pprSeedExpr = s"node % 2 = 0 AND (node DIV 2) % $PprSeedMod = 0"
  private def pprSeedSql(c: String) = s"$c % 2 = 0 AND ($c // 2) % $PprSeedMod = 0"

  def personalizedPageRank(s: SparkSession, d: String): DataFrame =
    rankWalk(s, d)(pprMass)

  /** PPR's initial-rank and teleport columns: both put all their mass on
    * the seed set, split evenly over its members. */
  private def pprMass(nodes: DataFrame, n: Long): (Column, Column) = {
    val seedPred = expr(pprSeedExpr)
    val sCount = nodes.filter(seedPred).count()
    require(sCount > 0, "PPR needs a non-empty seed set")
    (when(seedPred, lit(1.0) / sCount.toDouble).otherwise(lit(0.0)),
      when(seedPred, lit(Teleport / sCount.toDouble)).otherwise(lit(0.0)))
  }

  val personalizedPageRankSql: String = rankWalkSql(
    init = s"CASE WHEN ${pprSeedSql("src")} THEN 1.0 / (SELECT c FROM sc) ELSE 0.0 END",
    teleport = s"CASE WHEN ${pprSeedSql("p.node")} THEN 0.15 / (SELECT c FROM sc) ELSE 0.0 END",
    seedCtes = s"""
       |sc AS MATERIALIZED (
       |  SELECT CAST(count(*) AS DOUBLE) AS c FROM o
       |  WHERE ${pprSeedSql("src")}),""".stripMargin)

  /** The damped power iteration shared by PageRank and PPR. `mass` maps
    * the node list (column `node`) and its size to the initial-rank and
    * teleport columns; the edge table, the per-round join + dst-grain
    * fixed-point sum, the broadcast switch and the per-round checkpoint
    * are common. */
  private def rankWalk(s: SparkSession, d: String)(
      mass: (DataFrame, Long) => (Column, Column)): DataFrame = {
    val e = edges(s, d).localCheckpoint()
    // out-degree at src grain; every node appears as a src by
    // construction (edges run both ways), so outdeg is the node list
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint()
    val nodes = outdeg.select(col("src").as("node"))
    val n = outdeg.count()
    val bc = n <= BroadcastNodeStateMax
    val (init, teleport) = mass(nodes, n)
    val ranks = (1 to Rounds).foldLeft(nodes.select(col("node"), init.as("rank"))) {
      (ranks, _) =>
        val contrib = e
          .join(stateSide(outdeg, bc), "src")
          .join(stateSide(ranks, bc), e("src") === ranks("node"))
          .select(col("dst"),
            round(col("rank") / col("outdeg").cast("double") * Fixed)
              .cast("long").cast("decimal(38,0)").as("c_fixed"))
          .groupBy("dst")
          .agg(sum(col("c_fixed")).as("in_fixed"))
        // keep-all-nodes: a node with no in-edges this round still holds
        // the teleport mass
        ranks.select(col("node"))
          .join(stateSide(contrib, bc), col("node") === col("dst"), "left")
          .select(col("node"),
            (teleport + lit(Damping) *
              (coalesce(col("in_fixed"), lit(0).cast("decimal(38,0)"))
                .cast("double") / Fixed)).as("rank"))
          .localCheckpoint()
    }
    ranks.select(col("node").cast("long").as("node"), col("rank"))
      .orderBy("node")
  }

  /** The DuckDB twin of [[rankWalk]]: every round as MATERIALIZED CTEs.
    * `init` is the initial rank over `o.src`, `teleport` the per-round
    * teleport mass over `p.node`, and `seedCtes` any CTEs they read. */
  private def rankWalkSql(init: String, teleport: String, seedCtes: String = ""): String = {
    val iterCtes = (1 to Rounds).map { i =>
      val prev = s"r${i - 1}"
      s"""con$i AS MATERIALIZED (
         |  SELECT e.dst,
         |    SUM(CAST(CAST(round(r.rank / CAST(o.outdeg AS DOUBLE) * 1e12) AS BIGINT)
         |      AS DECIMAL(38,0))) AS in_fixed
         |  FROM e JOIN o ON e.src = o.src
         |  JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst),
         |r$i AS MATERIALIZED (
         |  SELECT p.node,
         |    $teleport
         |      + 0.85 * (CAST(COALESCE(c.in_fixed, 0) AS DOUBLE) / 1e12) AS rank
         |  FROM $prev p LEFT JOIN con$i c ON p.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT DISTINCT l_suppkey * 2 AS s_node, o_custkey * 2 + 1 AS c_node
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (
       |  SELECT s_node AS src, c_node AS dst FROM pairs
       |  UNION ALL
       |  SELECT c_node AS src, s_node AS dst FROM pairs),
       |o AS MATERIALIZED (
       |  SELECT src, count(*) AS outdeg FROM e GROUP BY src),$seedCtes
       |r0 AS MATERIALIZED (
       |  SELECT src AS node, $init AS rank
       |  FROM o),
       |$iterCtes
       |SELECT CAST(node AS BIGINT) AS node, rank
       |FROM r$Rounds
       |ORDER BY node""".stripMargin
  }

  // --- q_gr_hits: hubs & authorities on the bipartite graph ---------------
  // HITS (Kleinberg 1999) fits the customer↔supplier bipartition
  // natively: customers are HUBS (their weight is the sum of the
  // authority of the suppliers they buy from), suppliers are
  // AUTHORITIES (the sum of the hub weight of their buyers) —
  // alternating matvecs over ONE single-direction edge table, each an
  // edges⋈scores join + aggregation at the other side's grain (the
  // same per-round shuffle discipline as PageRank). The L2
  // normalization per round is cross-engine SAFE where most
  // transcendentals aren't: IEEE-754 sqrt is correctly rounded in
  // both engines, the squared-sum routes through fixed point, and the
  // norm itself is a 1-double driver artifact per round (the Lloyd
  // collect pattern — O(1), not O(nodes)). Scores stay distributed.
  private val HitsRounds = 3

  def hits(s: SparkSession, d: String): DataFrame =
    hitsOf(bipartite(s, d), BroadcastNodeStateMax)

  /** One HITS half-matvec: edges ⋈ the other side's score vector,
    * aggregated at this side's grain in exact fixed point. `bc` routes
    * the node-grain score vector through the broadcast-or-shuffle
    * chooser. Exposed so PlanSpec can pin both shapes. */
  private[graft] def hitsMatvec(e: DataFrame, scores: DataFrame,
                                joinKey: String, outKey: String,
                                scoreCol: String, bc: Boolean): DataFrame =
    e.join(stateSide(scores, bc), joinKey).groupBy(outKey)
      .agg(sum(round(col(scoreCol) * Fixed).cast("long")
        .cast("decimal(38,0)")).as("f"))
      .select(col(outKey), (col("f").cast("double") / Fixed).as("raw"))

  private[graft] def hitsOf(edges: DataFrame, maxBroadcastNodes: Long): DataFrame = {
    // staged (no re-derivation) + pinned: six per-round joins probe it
    val e = edges.localCheckpoint()
    // All fixed-point sums accumulate in DECIMAL(38,0): the per-row
    // quanta are ~hr^2 x 1e12, and at sf0.1 the 15k-customer squared-sum
    // already exceeds Long.Max (ANSI overflow, caught by the bench) —
    // DuckDB's BIGINT sum is HUGEINT for the same reason. The decimal
    // sum casts to double exactly like HUGEINT does, so oracle parity
    // holds unchanged.
    // The normalizer stays IN the plan as a one-row aggregate crossed
    // back (Spark's sqrt is the same IEEE sqrt the driver's math.sqrt
    // was): the r12 shape collected the norm to the driver and
    // checkpointed the normalized vector too — 6 driver-synchronized
    // jobs per round where 2 suffice (the raw-score checkpoints; the
    // normalized vectors are pure projections over them, recomputed
    // for pennies by their ≤2 consumers). Score vectors are node-grain
    // and BROADCAST into the edge joins — the labelprop/CC discipline —
    // so the edge list never exchanges. Measured 5.5 → ~2 s best at
    // sf0.1 with identical bits.
    def l2col(df: DataFrame, c: String): DataFrame =
      df.agg(sqrt(sum(round(col(c) * col(c) * Fixed).cast("long")
        .cast("decimal(38,0)")).cast("double") / Fixed).as("nrm"))
    var auth = e.select("supp").distinct()
      .select(col("supp"), lit(1.0).as("a")).localCheckpoint()
    var hub = e.select("cust").distinct()
      .select(col("cust"), lit(1.0).as("h")).localCheckpoint()
    // thresholded dispatch (see BroadcastNodeStateMax): the score
    // vectors broadcast into the edge joins only while the larger side
    // stays under the bound; the 1-row norm crossJoins stay broadcast
    // at ANY scale (they are one row by construction)
    val bc = math.max(auth.count(), hub.count()) <= maxBroadcastNodes
    for (_ <- 1 to HitsRounds) {
      val hraw = hitsMatvec(e, auth, "supp", "cust", "a", bc)
        .select(col("cust"), col("raw").as("hr"))
        .localCheckpoint()
      hub = hraw.crossJoin(broadcast(l2col(hraw, "hr")))
        .select(col("cust"), (col("hr") / col("nrm")).as("h"))
      val araw = hitsMatvec(e, hub, "cust", "supp", "h", bc)
        .select(col("supp"), col("raw").as("ar"))
        .localCheckpoint()
      auth = araw.crossJoin(broadcast(l2col(araw, "ar")))
        .select(col("supp"), (col("ar") / col("nrm")).as("a"))
    }
    auth.select(lit("authority").as("side"), col("supp").as("key"),
      col("a").as("score"))
      .union(hub.select(lit("hub").as("side"), col("cust").as("key"),
        col("h").as("score")))
      .orderBy("side", "key")
  }

  val hitsSql: String = {
    val rounds = (1 to HitsRounds).map { i =>
      val prevA = if (i == 1) "a0" else s"a${i - 1}"
      s"""hraw$i AS MATERIALIZED (
         |  SELECT e.cust,
         |    CAST(SUM(CAST(round(a.a * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS hr
         |  FROM e JOIN $prevA a ON e.supp = a.supp
         |  GROUP BY e.cust),
         |h$i AS MATERIALIZED (
         |  SELECT cust, hr / (
         |    SELECT sqrt(CAST(SUM(CAST(round(hr * hr * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
         |    FROM hraw$i) AS h
         |  FROM hraw$i),
         |araw$i AS MATERIALIZED (
         |  SELECT e.supp,
         |    CAST(SUM(CAST(round(h.h * 1e12) AS BIGINT)) AS DOUBLE) / 1e12 AS ar
         |  FROM e JOIN h$i h ON e.cust = h.cust
         |  GROUP BY e.supp),
         |a$i AS MATERIALIZED (
         |  SELECT supp, ar / (
         |    SELECT sqrt(CAST(SUM(CAST(round(ar * ar * 1e12) AS BIGINT)) AS DOUBLE) / 1e12)
         |    FROM araw$i) AS a
         |  FROM araw$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |a0 AS MATERIALIZED (
       |  SELECT DISTINCT supp, 1.0::DOUBLE AS a FROM e),
       |$rounds
       |SELECT side, key, score FROM (
       |  SELECT 'authority' AS side, supp AS key, a AS score FROM a$HitsRounds
       |  UNION ALL
       |  SELECT 'hub' AS side, cust AS key, h AS score FROM h$HitsRounds)
       |ORDER BY side, key""".stripMargin
  }

  // --- q_gr_triangles: degree-oriented triangle counting ------------------
  // The "products bought together" co-occurrence graph: an undirected
  // edge per distinct part pair sharing an order. Triangle counting is
  // the canonical clustering-coefficient primitive, and the naive
  // 3-way self-join over the UNDIRECTED edge list is the canonical
  // scale trap: every triangle matches 6 permutations and every
  // high-degree hub explodes the wedge count. The fix (Cohen 2009 /
  // Suri–Vassilvitskii 2011, public MapReduce literature) is degree
  // orientation: direct each edge from the lexicographically smaller
  // (degree, node) endpoint to the larger; every triangle then matches
  // EXACTLY ONE (u→v, u→w, v→w) wedge-plus-closure, and per-node
  // out-degree is bounded by O(√|E|), which bounds the wedge join —
  // that bound is what survives a power-law degree distribution at
  // 100 TB, where a single hub would otherwise generate deg² wedges.
  // Per-order basket width is capped as part of the contract (an order
  // listing half the catalogue would inject C(cap,2) edges alone —
  // the MaxShingleDf lesson from Dedup applied to edge derivation).
  // Shuffles: all equi-joins on node keys; wedge candidates never
  // leave the cluster; the DuckDB twin replays identical joins.
  private val MaxBasket = 16L

  /** Undirected part co-purchase edges (a < b): distinct part pairs
    * sharing an order, basket width capped. Shared by the triangle and
    * community operators — and STAGED once per dataset fingerprint
    * (the `minMaxStage`/`trainedCentroids` pattern): triangles and
    * labelProp consume the identical edge set, and re-deriving it per
    * query repeated the basket self-join's ~50 MB shuffle in each.
    * Staged it is one parquet read per consumer; the fingerprint tag
    * means a regenerated dataset can never reuse a stale edge list. At
    * 100 TB this staging IS the design: derived graph tables are
    * written once per ingest tick and every analytic reads the
    * materialization, not the derivation. */
  private[graft] def coEdges(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_graph_$tag/co_edges_b"
    // Bucketed on the source node ([[graft.Stage.ensureBucketedTable]]):
    // edge joins and aggregations keyed on `a` read co-located buckets
    // and plan zero exchanges over the staged edge list.
    graft.Stage.ensureBucketedTable(s, root, s"graft_co_edges_$tag",
      "a BIGINT, b BIGINT", "a", 8)(coEdgesDerive(s, d))
  }

  /** The capped (order, part) basket frame — input to BOTH the
    * co-purchase edge derivation and the item-item co-count
    * recommender, staged per dataset fingerprint like the structures
    * built from it. */
  private[graft] def cappedBasket(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_graph_$tag/basket_b"
    // Bucketed on the order key: the basket SELF-join (wedge/co-count
    // generation — the quadratic step of both the edge derivation and
    // the item-item recommender) plans zero exchanges off this table.
    graft.Stage.ensureBucketedTable(s, root, s"graft_basket_$tag",
      "ok BIGINT, pk BIGINT", "ok", 8) {
      val basket = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val okOrders = basket.groupBy("ok").agg(count(lit(1)).as("bs"))
        .filter(col("bs") <= MaxBasket).select("ok")
      basket.join(okOrders, "ok")
    }
  }

  private def coEdgesDerive(s: SparkSession, d: String): DataFrame = {
    val b = cappedBasket(s, d)
    b.as("x").join(b.as("y"), "ok")
      .filter(col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct()
  }

  /** The same edge derivation as DuckDB CTEs (names basket/oko/und). */
  private[queries] val coEdgesSql: String =
    s"""basket AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |oko AS MATERIALIZED (
       |  SELECT ok FROM basket GROUP BY ok HAVING count(*) <= $MaxBasket),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT x.pk AS a, y.pk AS b
       |  FROM basket x
       |  JOIN basket y ON x.ok = y.ok AND x.pk < y.pk
       |  WHERE x.ok IN (SELECT ok FROM oko))""".stripMargin

  // --- q_gr_bfs -------------------------------------------------------------
  // BREADTH-FIRST HOP DISTANCES from a deterministic source (the
  // minimum node id carrying an edge) over the staged co-purchase
  // graph — the reachability/radius primitive under "how connected is
  // this catalog" questions, and the missing companion of the
  // PageRank/CC/HITS iterative family. MaxHops = 6 frontier rounds:
  // each round joins ONLY the previous frontier against the symmetric
  // adjacency (never the full visited set), then a min-dist merge;
  // localCheckpoint truncates the growing lineage exactly like the
  // other iterative operators. Fully relational — the source is a
  // 1-row aggregate frame cross-joined in, no driver scalar. Output
  // is the per-hop digest (count + id range per distance) with an
  // unreached row at dist = -1, so the verified surface is O(hops),
  // not O(nodes). Scale: round k's join fan-out is |frontier_k| ×
  // avg-degree — the textbook distributed BFS cost; the hop bound
  // caps total work at diameter × |E|, and the staged edge
  // materialization means no round re-derives the graph.
  private val MaxHops = 6

  /** Broadcast node-grain state into the edge joins only below this
    * estimated node count. The broadcast-state round shape (labels /
    * frontier / scores BROADCAST so the static edge list never
    * exchanges) wins at catalogue-node-count graphs — but the broadcast
    * is rebuilt on the driver EVERY round, so at web-graph cardinality
    * (10⁹+ nodes) it is the thing that OOMs first. Above the threshold
    * every engine below falls back to keyed shuffle rounds (CC: the
    * large-star/small-star engine in shuffle mode; BFS/HITS: the same
    * loop with planner-chosen shuffle joins), which exchange the edge
    * list per round but hold no node-grain artifact anywhere. 2M nodes
    * × ~32 B of (key, state) ≈ 64 MB per broadcast — the practical
    * executor-heap comfort bound, with driver memory the binding
    * constraint well before correctness. */
  private[graft] val BroadcastNodeStateMax = 2000000L

  /** The node-grain state side of an edge join, broadcast only when the
    * engine's node-count probe cleared [[BroadcastNodeStateMax]]. */
  private def stateSide(df: DataFrame, bc: Boolean): DataFrame =
    if (bc) broadcast(df) else df

  def bfs(s: SparkSession, d: String): DataFrame =
    bfsOf(coEdges(s, d), BroadcastNodeStateMax)

  /** One BFS expansion: probe the frontier against the adjacency,
    * anti-join the visited set. Exposed so PlanSpec can pin both round
    * shapes (broadcast state vs shuffle fallback). */
  private[graft] def bfsRound(adj: DataFrame, frontier: DataFrame,
                              visited: DataFrame, k: Int, bc: Boolean): DataFrame =
    stateSide(frontier, bc).join(adj, col("node") === col("u"))
      .select(col("v").as("node")).distinct()
      .join(stateSide(visited, bc), Seq("node"), "left_anti")
      .select(col("node"), lit(k.toLong).as("dist"))

  /** The frontier/visited walk shared by BFS, multi-source BFS and SCC:
    * each round `expand(frontier, visited, k)` yields the newly reached
    * rows (already anti-joined against `visited`), which become the
    * next frontier and are appended to `visited`. Only the new frontier
    * is ever joined against the adjacency; the visited rows are never
    * re-grouped (the first BFS cut re-aggregated the full dist set
    * every round: 6 full passes, 10.5 s at sf0.1 for a 2-hop graph).
    * The walk stops when the frontier is empty — one `isEmpty` probe of
    * the checkpointed frontier per round — or after `maxRounds`
    * expansions. State is (visited, frontier). The probe plans a root
    * `CollectLimit`, which stops at the first row and reuses its compiled
    * class; a `limit(1).count()` probe plans a Local/GlobalLimit pair
    * whose counter names are JVM-unique, so every round recompiled it,
    * and it added a single-partition exchange. */
  private def frontierWalk(seed: DataFrame, maxRounds: Int)(
      expand: (DataFrame, DataFrame, Int) => DataFrame): Iterate.Fixpoint[(DataFrame, DataFrame)] = {
    val start = seed.localCheckpoint()
    Iterate.fixpoint((start, start), maxRounds)(_._2.isEmpty) {
      case ((visited, frontier), k) =>
        val next = expand(frontier, visited, k).localCheckpoint()
        (visited.unionAll(next).localCheckpoint(), next)
    }
  }

  private[graft] def bfsOf(und: DataFrame, maxBroadcastNodes: Long): DataFrame = {
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint() // probed by every round
    val nodes = adj.select(col("u").as("node")).distinct().localCheckpoint()
    // thresholded dispatch: frontier/visited broadcast only while the
    // node count says the per-round broadcast is cheap (class doc above)
    val bc = nodes.count() <= maxBroadcastNodes
    val srcDf = und.agg(min(col("a")).as("node"))
      .select(col("node"), lit(0L).as("dist"))
    // frontier and visited are node-grain — BROADCAST both (below the
    // threshold), so the probe join and the anti-join leave the edge
    // list in place and a round's only exchange is the frontier
    // distinct (the connected/labelprop discipline; the r12 shape let
    // the planner exchange the adjacency side of both joins every round)
    val dist = frontierWalk(srcDf, MaxHops)(bfsRound(adj, _, _, _, bc)).state._1
    val perHop = dist.groupBy("dist")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
    val unreached = nodes.join(dist, Seq("node"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .select(lit(-1L).as("dist"), col("n_nodes"), col("min_node"), col("max_node"))
      .filter(col("n_nodes") > 0)
    perHop.unionAll(unreached).orderBy("dist")
  }

  lazy val bfsSql: String =
    s"""WITH RECURSIVE $coEdgesSql,
       |adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL SELECT b AS u, a AS v FROM und),
       |walk AS (
       |  SELECT (SELECT min(a) FROM und) AS node, 0 AS d
       |  UNION
       |  SELECT adj.v, w.d + 1 FROM walk w JOIN adj ON adj.u = w.node
       |  WHERE w.d < $MaxHops),
       |reached AS MATERIALIZED (
       |  SELECT node, CAST(min(d) AS BIGINT) AS dist FROM walk GROUP BY node),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)),
       |per_hop AS MATERIALIZED (
       |  SELECT dist, CAST(count(*) AS BIGINT) AS n_nodes,
       |    min(node) AS min_node, max(node) AS max_node
       |  FROM reached GROUP BY dist),
       |unreached AS MATERIALIZED (
       |  SELECT CAST(-1 AS BIGINT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes,
       |    min(node) AS min_node, max(node) AS max_node
       |  FROM nodes WHERE node NOT IN (SELECT node FROM reached)
       |  HAVING count(*) > 0)
       |SELECT dist, n_nodes, min_node, max_node FROM per_hop
       |UNION ALL
       |SELECT dist, n_nodes, min_node, max_node FROM unreached
       |ORDER BY dist""".stripMargin

  // --- q_gr_closeness ---------------------------------------------------------
  // SAMPLED-SOURCE CLOSENESS / HARMONIC CENTRALITY (Eppstein–Wang,
  // 2001, public): exact all-pairs closeness is O(|V|·|E|) — at any
  // interesting scale the estimator is a fixed handful of BFS sources,
  // and the per-node estimate uses only distances to those sources.
  // Undirected graph, so d(s, v) from a multi-source BFS IS d(v, s).
  // Sources are the [[CloseSources]] smallest node ids carrying an edge
  // (deterministic; a production run would hash-sample instead — same
  // plan shape). State is (src, node, dist) — S×|V| at worst, S fixed —
  // expanded frontier-only per round exactly like [[bfsOf]], with the
  // hop cap bounding total work at hops × S × |E|.
  //
  // Cross-engine exactness: per-(node, dist) counts are exact integers;
  // the harmonic sum Σ c_d/d is a FIXED d=1..CloseHops expression chain
  // (the Neyman wtot discipline), never a float aggregate — so the
  // doubles are identical in both engines regardless of row order.
  //
  // ERROR ENVELOPE (Eppstein–Wang, Hoeffding form): with k sampled
  // sources the per-node mean-distance estimate sum_dist/n_src_reached
  // satisfies P(|â(v) − a(v)| ≥ ε·Δ) ≤ 2·exp(−2kε²), Δ the (hop-capped)
  // diameter — at k = CloseSources = 4 and 95% per-node confidence,
  // ε = sqrt(ln(2/0.05)/(2k)) ≈ 0.68. Tightening is a k bump
  // (k = Θ(log n/ε²) for uniform ε), not a plan change: the walk is
  // already multi-source. GraphSpec asserts the envelope against an
  // exact all-pairs BFS on the sf0.001 fixture (p95 of the realized
  // gaps ≤ ε·Δ, max ≤ Δ).
  private val CloseSources = 4
  private val CloseHops = MaxHops

  /** The (src, node, dist) multi-source BFS frame shared by the
    * closeness and diameter estimators: [[CloseSources]] deterministic
    * seeds, frontier-only expansion, [[CloseHops]] cap. Staged per
    * dataset fingerprint like [[coEdges]] — both consumers read ONE
    * materialization instead of re-running the iterative walk. */
  private def multiSourceBfs(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_graph_$tag/msbfs"
    graft.Stage.ensure(root) { tmp =>
      multiSourceBfsDerive(s, d).repartition(4, col("src")).write.parquet(tmp)
    }
    Tables.read(s, root)
  }

  private def multiSourceBfsDerive(s: SparkSession, d: String): DataFrame = {
    val und = coEdges(s, d)
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint() // probed by every round
    val srcs = adj.select(col("u").as("src")).distinct()
      .orderBy("src").limit(CloseSources) // TakeOrdered: k-row driver merge
    val seed = srcs.select(col("src"), col("src").as("node"), lit(0L).as("dist"))
    frontierWalk(seed, CloseHops) { (frontier, visited, k) =>
      frontier.join(adj, col("node") === col("u"))
        .select(col("src"), col("v").as("node")).distinct()
        .join(visited, Seq("src", "node"), "left_anti")
        .select(col("src"), col("node"), lit(k.toLong).as("dist"))
    }.state._1
  }

  /** The same walk as DuckDB CTEs (expects und from coEdgesSql; names
    * adj/srcs/walk/reached). */
  private lazy val multiSourceBfsSql: String =
    s"""adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL SELECT b AS u, a AS v FROM und),
       |srcs AS MATERIALIZED (
       |  SELECT u AS src FROM adj GROUP BY u ORDER BY u LIMIT $CloseSources),
       |walk AS (
       |  SELECT src, src AS node, 0 AS d FROM srcs
       |  UNION
       |  SELECT w.src, adj.v, w.d + 1 FROM walk w JOIN adj ON adj.u = w.node
       |  WHERE w.d < $CloseHops),
       |reached AS MATERIALIZED (
       |  SELECT src, node, CAST(min(d) AS BIGINT) AS dist
       |  FROM walk GROUP BY src, node)""".stripMargin

  def closeness(s: SparkSession, d: String): DataFrame = {
    val cnt = multiSourceBfs(s, d).filter(col("dist") >= 1)
      .groupBy("node", "dist").agg(count(lit(1)).as("c"))
    val harmonic = (1 to CloseHops).map(h =>
        coalesce(sum(when(col("dist") === h.toLong, col("c"))), lit(0L))
          .cast("double") / lit(h.toDouble))
      .reduce(_ + _) // fixed left-to-right chain, order-free exact ints inside
    cnt.groupBy("node")
      .agg(sum(col("c")).as("n_src_reached"),
        sum(col("c") * col("dist")).as("sum_dist"),
        harmonic.as("harmonic"))
      .withColumn("closeness_hat",
        col("n_src_reached").cast("double") / col("sum_dist").cast("double"))
      .orderBy("node")
  }

  lazy val closenessSql: String = {
    val harmonic = (1 to CloseHops).map(h =>
      s"coalesce(sum(CASE WHEN dist = $h THEN c END), 0)::DOUBLE / $h.0")
      .mkString(" + ")
    s"""WITH RECURSIVE $coEdgesSql,
       |$multiSourceBfsSql,
       |cnt AS MATERIALIZED (
       |  SELECT node, dist, count(*) AS c FROM reached
       |  WHERE dist >= 1 GROUP BY node, dist)
       |SELECT node, CAST(sum(c) AS BIGINT) AS n_src_reached,
       |  CAST(sum(c * dist) AS BIGINT) AS sum_dist,
       |  $harmonic AS harmonic,
       |  CAST(sum(c) AS BIGINT)::DOUBLE
       |    / CAST(sum(c * dist) AS BIGINT)::DOUBLE AS closeness_hat
       |FROM cnt GROUP BY node
       |ORDER BY node""".stripMargin
  }

  // --- q_gr_diameter ----------------------------------------------------------
  // RADIUS/DIAMETER AUDIT off the same sampled multi-source BFS: per
  // seed the hop-capped ECCENTRICITY estimate (max observed distance)
  // and reach count, plus two corpus scalars — the diameter LOWER
  // BOUND (max eccentricity over seeds; the standard cheap bound,
  // exact diameter being infeasible past toy scale) and the EFFECTIVE
  // DIAMETER (smallest d covering >= 90% of observed (src, node)
  // distances, the graph-mining "how far is everything really"
  // metric). The 90% threshold is pure integer arithmetic
  // (10·cum >= 9·total ⟺ cum >= ceil(0.9·total)) so the two engines
  // agree on the boundary bucket. The quantile window runs over the
  // per-hop digest (<= hop-cap rows), never the distance multiset.
  def diameter(s: SparkSession, d: String): DataFrame = {
    val walk = multiSourceBfs(s, d).filter(col("dist") >= 1)
      .localCheckpoint() // three digests read it
    val perSrc = walk.groupBy("src")
      .agg(max(col("dist")).as("ecc_hat"), count(lit(1)).as("n_reached"))
    val dlb = perSrc.agg(max(col("ecc_hat")).as("diameter_lb"))
    val counts = walk.groupBy("dist").agg(count(lit(1)).as("c"))
    // single-partition window is fine HERE: its input is the per-hop
    // digest (<= CloseHops rows), not a row-grain frame
    val w = org.apache.spark.sql.expressions.Window.orderBy("dist")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val eff = counts.withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(counts.agg(sum(col("c")).as("tot"))))
      .filter(col("cum") * 10 >= col("tot") * 9)
      .agg(min(col("dist")).as("eff_diameter"))
    perSrc.crossJoin(broadcast(dlb)).crossJoin(broadcast(eff))
      .select("src", "ecc_hat", "n_reached", "diameter_lb", "eff_diameter")
      .orderBy("src")
  }

  lazy val diameterSql: String =
    s"""WITH RECURSIVE $coEdgesSql,
       |$multiSourceBfsSql,
       |d1 AS MATERIALIZED (
       |  SELECT src, node, dist FROM reached WHERE dist >= 1),
       |per_src AS MATERIALIZED (
       |  SELECT src, max(dist) AS ecc_hat, count(*) AS n_reached
       |  FROM d1 GROUP BY src),
       |counts AS MATERIALIZED (
       |  SELECT dist, CAST(count(*) AS BIGINT) AS c FROM d1 GROUP BY dist),
       |cum AS MATERIALIZED (
       |  SELECT dist, sum(c) OVER (ORDER BY dist) AS cum FROM counts),
       |tot AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS tot FROM counts),
       |eff AS MATERIALIZED (
       |  SELECT min(dist) AS eff_diameter FROM cum, tot
       |  WHERE cum * 10 >= tot * 9),
       |dlb AS MATERIALIZED (SELECT max(ecc_hat) AS diameter_lb FROM per_src)
       |SELECT src, ecc_hat, CAST(n_reached AS BIGINT) AS n_reached,
       |  dlb.diameter_lb, eff.eff_diameter
       |FROM per_src, dlb, eff
       |ORDER BY src""".stripMargin

  // --- q_gr_scc ---------------------------------------------------------------
  // STRONGLY CONNECTED COMPONENT by FORWARD-BACKWARD reachability
  // (Fleischer–Hendrickson–Pinar 2000, public — the standard
  // distributed SCC primitive; Tarjan's stack walk does not
  // parallelize): over the DIRECTED event-type transition graph, two
  // bounded BFS sweeps from a deterministic pivot — forward along
  // edges, backward along reversed edges — and SCC(pivot) = F ∩ B.
  // The output labels every node with its FW-BW partition cell
  // ('scc' / 'fwd' / 'bwd' / 'rest'), which is exactly the recursion
  // structure of the full decomposition (each non-scc cell recurses
  // independently), plus the pivot component's size. The undirected CC
  // engines upstream cannot answer this: direction matters for "can a
  // session return to this state". Rounds are frontier-only expansions
  // with an early exit, ≤ diameter each sweep; state is node-grain.
  def scc(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = Tables.events(s, d)
      .withColumn("t2", lead(col("event_type"), 1).over(w))
      .filter(col("t2").isNotNull && col("t2") =!= col("event_type"))
      .select(col("event_type").as("f"), col("t2").as("t")).distinct()
      .localCheckpoint() // probed by every round of both sweeps
    val nodes = e.select(col("f").as("node"))
      .unionAll(e.select(col("t").as("node"))).distinct().localCheckpoint()
    val pivot = nodes.agg(min(col("node")).as("node"))
    // BOTH sweeps advance in the same rounds: the adjacency carries a
    // direction tag ('F' = edges as-is, 'B' = reversed) and the state
    // is (dir, node), so one frontier expansion per round serves
    // forward AND backward reachability — max(diam_f, diam_b) rounds
    // and half the driver-synchronized jobs of two sequential sweeps
    val adj = e.select(lit("F").as("dir"), col("f").as("u"), col("t").as("v"))
      .unionAll(e.select(lit("B").as("dir"), col("t").as("u"), col("f").as("v")))
      .localCheckpoint()
    val seed = pivot.select(explode(array(lit("F"), lit("B"))).as("dir"), col("node"))
    val walk = frontierWalk(seed, SccMaxRounds) { (frontier, visited, _) =>
      frontier
        .join(adj, frontier("dir") === adj("dir") && col("node") === col("u"))
        .select(adj("dir").as("dir"), col("v").as("node")).distinct()
        .join(visited, Seq("dir", "node"), "left_anti")
    }
    require(walk.converged,
      s"scc: reachability did not converge within $SccMaxRounds rounds - raise the cap")
    val visited = walk.state._1
    val fwd = visited.filter(col("dir") === "F")
      .select(col("node"), lit(1L).as("in_f"))
    val bwd = visited.filter(col("dir") === "B")
      .select(col("node"), lit(1L).as("in_b"))
    val parts = nodes
      .join(broadcast(fwd), Seq("node"), "left")
      .join(broadcast(bwd), Seq("node"), "left")
      .select(col("node").as("event_type"),
        when(col("in_f").isNotNull && col("in_b").isNotNull, "scc")
          .when(col("in_f").isNotNull, "fwd")
          .when(col("in_b").isNotNull, "bwd")
          .otherwise("rest").as("part"))
    val sz = parts.filter(col("part") === "scc")
      .agg(count(lit(1)).as("scc_size"))
    parts.crossJoin(broadcast(sz)).orderBy("event_type")
  }

  private val SccMaxRounds = 64

  lazy val sccSql: String =
    s"""WITH RECURSIVE pairs AS MATERIALIZED (
       |  SELECT event_type AS f,
       |    lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS t
       |  FROM events),
       |e AS MATERIALIZED (
       |  SELECT DISTINCT f, t FROM pairs WHERE t IS NOT NULL AND t <> f),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT n FROM (SELECT f AS n FROM e UNION ALL SELECT t FROM e)),
       |piv AS MATERIALIZED (SELECT min(n) AS p FROM nodes),
       |fw AS (
       |  SELECT p AS node FROM piv
       |  UNION
       |  SELECT e.t FROM fw JOIN e ON e.f = fw.node),
       |bw AS (
       |  SELECT p AS node FROM piv
       |  UNION
       |  SELECT e.f FROM bw JOIN e ON e.t = bw.node),
       |parts AS MATERIALIZED (
       |  SELECT n.n AS event_type,
       |    CASE WHEN f.node IS NOT NULL AND b.node IS NOT NULL THEN 'scc'
       |         WHEN f.node IS NOT NULL THEN 'fwd'
       |         WHEN b.node IS NOT NULL THEN 'bwd'
       |         ELSE 'rest' END AS part
       |  FROM nodes n
       |  LEFT JOIN (SELECT DISTINCT node FROM fw) f ON f.node = n.n
       |  LEFT JOIN (SELECT DISTINCT node FROM bw) b ON b.node = n.n),
       |sz AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS scc_size FROM parts WHERE part = 'scc')
       |SELECT event_type, part, sz.scc_size FROM parts, sz
       |ORDER BY event_type""".stripMargin

  // --- q_gr_connected -------------------------------------------------------
  // CONNECTED COMPONENTS by min-label propagation to FIXPOINT — the
  // partition primitive under dedup-cluster assembly, blast-radius
  // questions, and any "how many islands" audit; labelprop finds
  // communities INSIDE a component, this finds the components. Every
  // round each node adopts the minimum label among itself and its
  // neighbors — a pure function of the previous state (bit-stable
  // across engines/partitionings); convergence is detected by the
  // standard checkpointed moved-count probe (one scalar per round,
  // the BFS/Lloyd discipline), reached in at most diameter rounds
  // with a safety bound. Per round: one join at edge grain + one min
  // aggregation at node grain; the static adjacency is checkpointed
  // once and never re-derived. The ORACLE is the recursive
  // min-reachable walk: propagating only labels smaller than the
  // receiving node keeps the recursion state at (node, smaller
  // component member) pairs — every node's min over that set is the
  // component minimum, because a simple path from the component's
  // min node never revisits it. 100 TB shape: rounds × |E| join work,
  // node-grain state, no driver materialization; the large-star/
  // small-star variant is the constant-factor upgrade when diameters
  // grow, same state shape. The round cap is a runaway backstop well
  // above any plausible diameter here — the moved-count early exit is
  // what actually ends the loop, so a small-diameter graph never pays
  // for the headroom (and the oracle is the UNCAPPED fixpoint, so an
  // undersized cap would be a correctness bug, not a perf knob).
  private val CcMaxRounds = 50

  def connected(s: SparkSession, d: String): DataFrame =
    connectedOf(coEdges(s, d))

  /** One min-label propagation round: per-node neighbor minimum,
    * merged into the label vector with a moved flag. Exposed so
    * PlanSpec can pin the broadcast-state round shape. */
  private[graft] def ccRound(adj: DataFrame, labels: DataFrame, bc: Boolean): DataFrame = {
    val nbmin = adj.join(stateSide(labels, bc), adj("u") === labels("node"))
      .groupBy(col("v")).agg(min(col("lab")).as("nb"))
    labels.join(stateSide(nbmin, bc), labels("node") === nbmin("v"), "left")
      .select(col("node"),
        least(col("lab"), coalesce(col("nb"), col("lab"))).as("lab"),
        (col("nb").isNotNull && col("nb") < col("lab"))
          .cast("long").as("moved"))
  }

  /** Propagation core over any undirected (a, b) edge frame — exposed
    * so specs can drive multi-component fixtures (the testdata
    * co-purchase graph is one giant component at every SF, which never
    * exercises the labeling across components).
    *
    * Deliberately neighbor-min WITHOUT pointer jumping: the swap to
    * the dedup family's O(log n) engine ([[Dedup.connectedComponents]])
    * was MEASURED at sf0.1 and regressed — 3.75→6.0 MB shuffled and
    * ~5.4→6.9 s — because the co-purchase graph's diameter is small
    * (the moved-count loop ends in a handful of rounds) while the jump
    * adds a second label-keyed join + checksum per round. The
    * high-diameter regime (chains, long near-dup paths) is exactly
    * where dedup's pointer-jumping variant IS the right engine; pick
    * per graph shape, and the require() below turns an undersized cap
    * into a loud failure instead of a silent wrong partition.
    *
    * Scale guard: above `maxBroadcastNodes` the per-round label
    * broadcast is the bottleneck (see [[BroadcastNodeStateMax]]) — the
    * engine dispatches to the large-star/small-star rounds in shuffle
    * mode instead, which are O(log n) rounds of edge-grain keyed joins
    * holding NO node-grain artifact. Same output, same oracle. */
  private[graft] def connectedOf(und: DataFrame,
                                 maxBroadcastNodes: Long = BroadcastNodeStateMax): DataFrame = {
    val adj = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint()
    val labels0 = adj.select(col("u").as("node")).distinct()
      .withColumn("lab", col("node")).localCheckpoint()
    if (labels0.count() > maxBroadcastNodes)
      return connectedLssOf(und, maxBroadcastNodes)._1
    // state: (labels, nodes moved by the last round)
    val prop = Iterate.fixpoint((labels0, 1L), CcMaxRounds)(_._2 == 0L) {
      case ((labels, _), _) =>
        // labels and nbmin are node-grain (the part catalogue here, like
        // labelProp's vector) — both BROADCAST, so a round pays exactly
        // ONE exchange: the state-side groupBy(v). The r12 shape let the
        // planner exchange both sides of both joins (the checkpoint's
        // UnknownPartitioning hides co-location), ~4 stages/round of
        // pure latency on a ~4 MB shuffle query.
        val next = ccRound(adj, labels, bc = true).localCheckpoint()
        (next.select("node", "lab"), next.agg(sum(col("moved"))).first().getLong(0))
    }
    // The oracle is the UNCAPPED fixpoint: exiting with labels still
    // moving would silently return a wrong partition, so an undersized
    // cap must fail loudly here rather than downstream in a hash diff.
    require(prop.converged,
      s"connected(): label propagation still moving after $CcMaxRounds " +
        "rounds - raise CcMaxRounds (graph eccentricity exceeds the cap)")
    prop.state._1.groupBy(col("lab").as("component"))
      .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
      .orderBy("component")
  }

  // --- q_gr_connected_lss ----------------------------------------------------
  // CONNECTED COMPONENTS by alternating LARGE-STAR / SMALL-STAR rounds
  // (Kiveris et al. 2014, "Connected Components in MapReduce and
  // Beyond" — public) — the O(log n)-round engine the min-label header
  // names as the upgrade for high-diameter graphs. Min-label
  // propagation moves a component's minimum ONE hop per round (rounds
  // = graph diameter — a 1000-link chain needs 999); the star rounds
  // instead REWRITE the edge set so trees flatten geometrically:
  //   large-star(u): every neighbor v > u re-attaches to
  //     m = min(Γ(u) ∪ {u});
  //   small-star(u): every neighbor v ≤ u (edges oriented toward the
  //     larger endpoint) plus u itself attaches to m.
  // Both keep edges within the component (m is always a member) and
  // never grow the edge count past the original, so the fixpoint —
  // reached when a round leaves the edge set unchanged — is the star
  // graph child → component-min. GraphSpec proves label-set equality
  // with the min-label fixpoint on a multi-component fixture AND
  // drives a 1000-node chain to convergence in ≤ 2·⌈log2 n⌉ + 2
  // rounds (min-label's cap would trip at diameter 999). Per round:
  // two edge-grain joins + a distinct — the same shuffle shape as one
  // min-label round, paid O(log n) instead of O(diameter) times. The
  // edge set rides the rounds PACKED (pd = lo·2^32 + hi, the
  // triangles/prefix-join key discipline): every edge-grain exchange
  // — the per-round dedup distincts here, plus the join stream itself
  // in shuffle mode — carries one 8-byte word instead of two.
  // Convergence probe is one (count, xor-of-hashes) scalar pair per
  // round — the moved-count discipline, no driver data. Output and
  // oracle are identical to q_gr_connected (same partition, same SQL).
  private val LssMaxRounds = 64

  def connectedLss(s: SparkSession, d: String): DataFrame =
    connectedLssOf(coEdges(s, d))._1

  /** One alternating large-star + small-star rewrite of the canonical
    * PACKED edge set — one `pd = lo·2^32 + hi` long per edge (lo < hi;
    * the triangles/prefix-join key-packing discipline). The per-round
    * dedup `distinct`s are the only edge-grain exchanges in broadcast
    * mode and the join stream itself in shuffle mode — packing makes
    * every one of them carry ONE 8-byte word instead of two. Both
    * halves of every in-round pack are halves of the
    * [[Dedup.packPairKey]]-guarded ingress keys (the rewrite only
    * recombines existing node ids), so the 31-bit domain is closed and
    * the in-round arithmetic needs no second guard — the triangles
    * `vw` precedent. `bc` routes the node-grain min digests through
    * the broadcast-or-shuffle chooser: in shuffle mode (the >
    * [[BroadcastNodeStateMax]] fallback) the round is pure edge-grain
    * keyed joins — no node-grain artifact is ever built on the driver.
    * Exposed so PlanSpec can pin both shapes. */
  private[graft] def lssRound(edges: DataFrame, bc: Boolean): DataFrame = {
    val W = lit(1L << 32)
    // LARGE-STAR over the full symmetric neighborhood: ud packs the
    // (u, v) orientation the same way (high bits = u), so the u-group
    // minimum min(ud) IS u·2^32 + min(v) and the digest aggregates one
    // long instead of a (key, value) pair.
    val sym = edges.select(col("pd").as("ud"))
      .unionAll(edges.select(
        ((col("pd") % W) * W + shiftright(col("pd"), 32)).as("ud")))
    val mins = sym.groupBy(shiftright(col("ud"), 32).as("u"))
      .agg(min(col("ud")).as("mud"))
      .select(col("u"), least(col("u"), col("mud") % W).as("m"))
    val ls = sym
      .join(stateSide(mins, bc), shiftright(col("ud"), 32) === col("u"))
      .filter(col("ud") % W > col("u") && col("ud") % W =!= col("m"))
      .select((least(col("ud") % W, col("m")) * W +
        greatest(col("ud") % W, col("m"))).as("pd"))
      .distinct()
    // SMALL-STAR over the child→parent orientation (lo < hi always):
    // hi is the LOW half, so the group key is pd % 2^32 and the group
    // minimum min(pd) is min(lo)·2^32 + hi.
    val grp = ls.groupBy((col("pd") % W).as("u"))
      .agg(shiftright(min(col("pd")), 32).as("m"))
    val attachU = grp.select((col("m") * W + col("u")).as("pd"))
    val attachV = ls.join(stateSide(grp, bc), ls("pd") % W === grp("u"))
      .filter(shiftright(ls("pd"), 32) =!= col("m"))
      .select((col("m") * W + shiftright(ls("pd"), 32)).as("pd"))
    attachU.unionAll(attachV).distinct()
  }

  /** Star-contraction core over any undirected (a, b) edge frame;
    * returns (result, rounds) so specs can pin the O(log n) bound.
    * Below `maxBroadcastNodes` the per-node min digests broadcast back
    * onto the edge stream (the connected/labelprop discipline); above
    * it the rounds run in shuffle mode — the 100 TB shape. */
  private[graft] def connectedLssOf(und: DataFrame,
                                    maxBroadcastNodes: Long = BroadcastNodeStateMax): (DataFrame, Int) = {
    val nodes = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .distinct().localCheckpoint()
    val bc = nodes.count() <= maxBroadcastNodes
    // canonical PACKED lo·2^32+hi pairs, self-loops dropped — the
    // 31-bit injectivity guard lives IN packPairKey (loud raise at
    // scan time, no extra scalar job); every pack inside lssRound only
    // recombines halves of these guarded keys.
    val edges0 = und
      .filter(col("a") =!= col("b"))
      .select(Dedup.packPairKey(
        least(col("a"), col("b")), greatest(col("a"), col("b"))).as("pd"))
      .distinct().localCheckpoint()
    def probe(e: DataFrame): (Long, Long) = {
      // bit_xor, not sum: an order-free combine that cannot overflow
      // under ANSI arithmetic; hash the UNPACKED halves so the
      // per-round signature is byte-identical to the (lo, hi) form
      val r = e.agg(count(lit(1)).as("c"),
        coalesce(expr(
          "bit_xor(xxhash64(pd div 4294967296, pd % 4294967296))"),
          lit(0L)).as("h")).first()
      (r.getLong(0), r.getLong(1))
    }
    // state: (edges, their signature, whether the last round kept it)
    val stars = Iterate.fixpoint((edges0, probe(edges0), false), LssMaxRounds)(_._3) {
      case ((edges, sig, _), _) =>
        // Per-node min digests broadcast back onto the edge-grain stream
        // only under the threshold (lssRound's chooser) — then a round's
        // exchanges are only the two state-side aggregations and the
        // dedup distincts, never the edge list itself.
        val next = lssRound(edges, bc).localCheckpoint()
        val nsig = probe(next)
        (next, nsig, nsig == sig)
    }
    require(stars.converged,
      s"connectedLss(): star rounds still rewriting after $LssMaxRounds " +
        "rounds - raise LssMaxRounds")
    val edges = stars.state._1
    // fixpoint edges are (component-min, node) stars; min nodes label
    // themselves
    val labels = nodes
      .join(edges, nodes("node") === edges("pd") % lit(1L << 32), "left")
      .select(col("node"),
        coalesce(shiftright(col("pd"), 32), col("node")).as("lab"))
    val out = labels.groupBy(col("lab").as("component"))
      .agg(count(lit(1)).as("n_nodes"), max(col("node")).as("max_node"))
      .orderBy("component")
    (out, stars.rounds)
  }

  lazy val connectedSql: String =
    s"""WITH RECURSIVE $coEdgesSql,
       |adj AS MATERIALIZED (
       |  SELECT a AS u, b AS v FROM und
       |  UNION ALL SELECT b AS u, a AS v FROM und),
       |nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM adj),
       |reach AS (
       |  SELECT node, node AS lab FROM nodes
       |  UNION
       |  SELECT adj.v AS node, r.lab
       |  FROM reach r JOIN adj ON adj.u = r.node
       |  WHERE r.lab < adj.v),
       |comp AS MATERIALIZED (
       |  SELECT node, min(lab) AS component FROM reach GROUP BY node)
       |SELECT component, CAST(count(*) AS BIGINT) AS n_nodes,
       |  max(node) AS max_node
       |FROM comp GROUP BY component ORDER BY component""".stripMargin

  // --- q_gr_kcore -----------------------------------------------------------
  // K-CORE DECOMPOSITION (k = 3) by iterative peeling — the standard
  // "dense backbone" extractor (community seeds, spam-farm detection,
  // the graph family's missing subgraph operator): repeatedly delete
  // every node with degree < k until none remains; what survives is
  // the maximal subgraph of minimum degree ≥ k. Each round is one
  // degree aggregation + two anti-joins over the current edge set,
  // with the same empty-delta early exit as BFS (one checkpointed
  // count per round — peeling on this graph converges in 1–2 rounds).
  // The ORACLE replays a FIXED 8-round peel: peeling is IDEMPOTENT at
  // the fixpoint (no low-degree nodes remain ⇒ later rounds are
  // no-ops), so fixed-R equals the converged result whenever R ≥ the
  // real round count — and if a corpus ever needed more than 8, the
  // hash compare fails loudly rather than silently truncating
  // (GraphSpec also pins convergence within the oracle bound). Scale:
  // round cost is |current edges| — monotonically shrinking; the
  // classic distributed k-core shape.
  private val CoreK = 3
  private val CoreMaxRounds = 8

  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOf(coEdges(s, d))._1

  /** Peeling core over any undirected (a, b) edge frame — split out so
    * specs can drive constructed graphs where peeling actually
    * cascades (the co-purchase graph is dense enough to be a 3-core
    * already). Returns (result, peel rounds) so specs can pin the
    * rounds within the oracle's fixed peel depth. */
  private[graft] def kcoreOf(und: DataFrame): (DataFrame, Int) = {
    // the stop test builds and probes the low-degree set; the round
    // that follows peels that same checkpoint
    var low: DataFrame = null
    val peel = Iterate.fixpoint(und.select("a", "b").localCheckpoint(), CoreMaxRounds) {
      edges =>
        low = edges.select(col("a").as("n"))
          .unionAll(edges.select(col("b").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .filter(col("deg") < CoreK).select("n").localCheckpoint()
        low.isEmpty // a CollectLimit probe: see frontierWalk
    } { (edges, _) =>
      edges
        .join(low.toDF("a"), Seq("a"), "left_anti")
        .join(low.toDF("b"), Seq("b"), "left_anti")
        .select("a", "b").localCheckpoint()
    }
    val edges = peel.state
    val out = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .orderBy("node")
    (out, peel.rounds)
  }

  lazy val kcoreSql: String = {
    val peels = (1 to CoreMaxRounds).map { i =>
      val prev = if (i == 1) "e0" else s"e${i - 1}"
      s"""low$i AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT a AS n FROM $prev UNION ALL SELECT b AS n FROM $prev)
         |  GROUP BY n HAVING count(*) < $CoreK),
         |e$i AS MATERIALIZED (
         |  SELECT a, b FROM $prev
         |  WHERE a NOT IN (SELECT n FROM low$i)
         |    AND b NOT IN (SELECT n FROM low$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $coEdgesSql,
       |e0 AS MATERIALIZED (SELECT a, b FROM und),
       |$peels
       |SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
       |  SELECT a AS node FROM e$CoreMaxRounds
       |  UNION ALL SELECT b AS node FROM e$CoreMaxRounds)
       |GROUP BY node ORDER BY node""".stripMargin
  }

  def triangles(s: SparkSession, d: String): DataFrame =
    triangleCounts(s, d).orderBy(desc("n_triangles"), col("node"))

  /** Per-node triangle counts (nodes in ≥ 1 triangle) — the
    * degree-oriented engine, shared by the q_gr_triangles surface and
    * the clustering-coefficient query. */
  private[graft] def triangleCounts(s: SparkSession, d: String): DataFrame =
    triangleCountsOf(coEdges(s, d))

  /** Core over any undirected (a, b) edge frame; exposed so GraphSpec
    * can fire the node-id packing guard with a planted ≥2³¹ id. */
  private[graft] def triangleCountsOf(und: DataFrame): DataFrame = {
    // deg is node-grain (catalogue-sized) — broadcast, the edge list
    // never moves for the degree attach
    val deg = und.select(col("a").as("n"))
      .union(und.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(broadcast(deg.select(col("n").as("a"), col("deg").as("da"))), "a")
      .join(broadcast(deg.select(col("n").as("b"), col("deg").as("db"))), "b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("a") < col("b"))
    // vw packs the oriented endpoint pair into ONE long: the closure
    // join shuffles a single 8-byte key instead of two, and the wedge
    // stream — the big intermediate — is (u, vw) pairs only. The pack
    // is only injective while node ids fit 31 bits (dst*2^32 must not
    // overflow the long); assert that on the node-grain deg table so a
    // key-domain change fails loudly instead of silently colliding
    // packed keys into phantom triangles. One scalar off a
    // catalogue-grain aggregate — not a data collect.
    val maxNode = deg.agg(max(col("n"))).head.getLong(0)
    require(maxNode < (1L << 31),
      s"triangle key packing requires node ids < 2^31; max id is $maxNode")
    // pd packs (ddst, dst) into ONE long: the oriented-edge exchange
    // feeding the wedge self-join carries (src, pd) — two 8-byte words
    // instead of three — and the wedge ordering (ddst, dst) <
    // (ddst', dst') collapses to pd < pd', a single long compare
    // instead of a 3-comparison lexicographic test, because the pack
    // is order-isomorphic on the guarded non-negative domain (high
    // bits = ddst, low bits = dst). dst is covered by the node-id
    // require above; the DEGREE bound rides IN the expression
    // (ddst*2^32 overflows a signed long at exactly 2^31, so the
    // bound is strict): a hub past 2^31 raises at pack time instead
    // of silently mis-ordering wedges. In-expression (the Dedup
    // packPairKey discipline) rather than a second require scalar —
    // adding max(deg) to the guard job would un-collapse its
    // single-phase aggregate into an extra exchange on every run.
    val ddst = when(aFirst, col("db")).otherwise(col("da"))
    val ddstG = when(ddst < lit(1L << 31), ddst)
      .otherwise(raise_error(concat(
        lit("triangle key packing requires degrees < 2^31; got "),
        ddst.cast("string"))))
    val oriented = withDeg.select(
      when(aFirst, col("a")).otherwise(col("b")).as("src"),
      (ddstG * lit(1L << 32) +
        when(aFirst, col("b")).otherwise(col("a"))).as("pd"))
      .localCheckpoint()
    // SHUFFLE_HASH on both big joins: the wedge stream is generated and
    // consumed once — a sort-merge would sort ~|wedges| rows for one
    // probe pass, the hash build sides (oriented edges) are the small,
    // bounded inputs (measured at sf0.1: 18.6 s sort-merge → hash cut
    // the query to a third)
    val wedge = oriented.as("p").join(oriented.as("q").hint("shuffle_hash"),
        col("p.src") === col("q.src") && col("p.pd") < col("q.pd"))
      .select(col("p.src").as("u"),
        ((col("p.pd") % lit(1L << 32)) * lit(1L << 32) +
          col("q.pd") % lit(1L << 32)).as("vw"))
    // the closure side is ONE packed long per oriented edge (8B·|E| —
    // 6 MB at sf0.1): broadcast it and the |wedges|-row stream — the
    // big intermediate — is generated and probed in place, never
    // shuffled. An explicit broadcast() hint is honored REGARDLESS of
    // size estimates, so it is gated here on the known edge count
    // (oriented is localCheckpointed; counting it is a scan of the
    // materialized blocks, no recompute): past ~256 MB of packed keys
    // the closure join falls back to shuffle_hash — the wedge stream
    // pays one exchange but the driver never OOMs building an
    // oversized broadcast.
    val closure = oriented.select(
      (col("src") * lit(1L << 32) + col("pd") % lit(1L << 32)).as("vw"))
    val closureBroadcastable = oriented.count() * 8L < (256L << 20)
    val tri =
      (if (closureBroadcastable) wedge.join(broadcast(closure), Seq("vw"))
       else wedge.join(closure.hint("shuffle_hash"), Seq("vw")))
      .select(col("u"),
        expr(s"vw DIV ${1L << 32}").as("v"),
        pmod(col("vw"), lit(1L << 32)).as("w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  // --- q_gr_clustering --------------------------------------------------------
  // LOCAL CLUSTERING COEFFICIENT (Watts–Strogatz) — the per-node
  // cohesion score the triangle counts exist to feed: C_v =
  // 2·T_v / (deg_v·(deg_v − 1)), the fraction of a node's neighbor
  // pairs that are themselves connected. High-C parts live in tight
  // co-purchase cliques (bundle candidates); C ≈ 0 hubs are
  // cross-category connectors. Exact arithmetic: T_v and deg_v are
  // exact counts from the shared degree-oriented engine, the
  // denominator product rides DECIMAL(38,0) (a web-scale hub's deg²
  // outgrows a long), and C is ONE double division. Node grain
  // throughout — the deg table and per-node triangle digest join at
  // catalogue size, never edge grain.
  def clusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val und = coEdges(s, d)
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2) // C is defined only with ≥ 2 neighbors
      .join(triangleCounts(s, d), Seq("node"), "left")
      .na.fill(0L, Seq("n_triangles"))
      .select(col("node"), col("deg"), col("n_triangles"),
        ((col("n_triangles") * 2).cast("double") /
          (col("deg").cast("decimal(38,0)") * (col("deg") - 1)).cast("double"))
          .as("coeff"))
      .orderBy("node")
  }

  val trianglesSql: String =
    s"""WITH $coEdgesSql,
       |deg AS MATERIALIZED (
       |  SELECT n, count(*) AS deg FROM (
       |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
       |  GROUP BY n),
       |oriented AS MATERIALIZED (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.a ELSE u.b END AS src,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.b ELSE u.a END AS dst,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN db.deg ELSE da.deg END AS ddst
       |  FROM und u
       |  JOIN deg da ON u.a = da.n
       |  JOIN deg db ON u.b = db.n),
       |tri AS MATERIALIZED (
       |  SELECT p.src AS u, p.dst AS v, q.dst AS w
       |  FROM oriented p
       |  JOIN oriented q ON p.src = q.src
       |   AND (p.ddst < q.ddst OR (p.ddst = q.ddst AND p.dst < q.dst))
       |  JOIN oriented e ON e.src = p.dst AND e.dst = q.dst)
       |SELECT node, count(*) AS n_triangles FROM (
       |  SELECT u AS node FROM tri
       |  UNION ALL SELECT v FROM tri
       |  UNION ALL SELECT w FROM tri)
       |GROUP BY node
       |ORDER BY n_triangles DESC, node""".stripMargin

  val clusteringSql: String =
    s"""WITH $coEdgesSql,
       |deg AS MATERIALIZED (
       |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
       |  GROUP BY n),
       |oriented AS MATERIALIZED (
       |  SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.a ELSE u.b END AS src,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN u.b ELSE u.a END AS dst,
       |         CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
       |              THEN db.deg ELSE da.deg END AS ddst
       |  FROM und u
       |  JOIN deg da ON u.a = da.n
       |  JOIN deg db ON u.b = db.n),
       |tri AS MATERIALIZED (
       |  SELECT p.src AS u, p.dst AS v, q.dst AS w
       |  FROM oriented p
       |  JOIN oriented q ON p.src = q.src
       |   AND (p.ddst < q.ddst OR (p.ddst = q.ddst AND p.dst < q.dst))
       |  JOIN oriented e ON e.src = p.dst AND e.dst = q.dst),
       |pernode AS MATERIALIZED (
       |  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
       |    SELECT u AS node FROM tri
       |    UNION ALL SELECT v FROM tri
       |    UNION ALL SELECT w FROM tri)
       |  GROUP BY node)
       |SELECT d.n AS node, d.deg,
       |  CAST(coalesce(p.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CAST(coalesce(p.n_triangles, 0) * 2 AS DOUBLE)
       |    / CAST(CAST(d.deg AS DECIMAL(38,0)) * (d.deg - 1) AS DOUBLE)
       |    AS coeff
       |FROM deg d LEFT JOIN pernode p ON p.node = d.n
       |WHERE d.deg >= 2
       |ORDER BY node""".stripMargin

  // --- q_gr_labelprop: synchronous label-propagation communities ----------
  // Community detection (Raghavan et al. 2007, public literature) as the
  // fourth graph primitive after ranking (PageRank), hub/authority
  // (HITS) and cohesion (triangles). The textbook ASYNC variant updates
  // labels in a random vertex order — unreproducible by construction.
  // This is the SYNCHRONOUS variant with a total tie order: every round,
  // each node adopts the most frequent label among its neighbors,
  // ties by SMALLEST label — min(struct(−count, label)) in both
  // engines, so every round is a pure function of the previous one and
  // the result is bit-stable across engines, runs, and partitionings.
  // (Sync LPA can oscillate on bipartite structure; bounded rounds make
  // that a fixed-point-or-cycle SNAPSHOT, which is what a reproducible
  // pipeline wants anyway.) Each round: one join at neighbor grain +
  // two aggregations at node grain — label state is node-grain and
  // never collected (the PageRank discipline); `localCheckpoint`
  // truncates per-round lineage. Labels seed as node ids, so label
  // values stay in the node id domain and need no string surgery.
  private val LpRounds = 3

  def labelProp(s: SparkSession, d: String): DataFrame = {
    val und = coEdges(s, d)
    // PRE-PARTITION the doubled adjacency on the aggregation key and
    // pin it with cache(), NOT localCheckpoint: a checkpoint's
    // LogicalRDD reports UnknownPartitioning (measured — this is why
    // the r10 repartition+checkpoint attempt regressed), while an
    // InMemoryRelation PRESERVES hash(a). The broadcast join and the
    // projection both keep the streamed side's partitioning, and
    // hash(a) satisfies the clustering requirement of BOTH in-round
    // aggregations (a subset of (a, nl), and exactly (a)) — so every
    // iteration round plans ZERO exchanges (PlanSpec-gated): the one
    // edge-grain shuffle is the REPARTITION_BY_COL inside the cached
    // build, paid once instead of once per round (the r12 shape
    // repartitioned inside the loop — LpRounds × |E| exchange volume).
    val e2 = lpAdjacency(und)
    var labels = e2.select(col("a").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to LpRounds) {
      // labels are node-grain and the node set here is the PART
      // catalogue — the same catalogue-dimension grain as triangles'
      // deg table, so the label vector broadcasts and the static edge
      // list never re-shuffles per round. A user-grain node set
      // (PageRank's) would keep the keyed join instead.
      labels = lpRound(e2, labels).localCheckpoint()
    }
    // every round's labels are eagerly checkpointed, so the returned
    // frame no longer references the cached adjacency — release it
    e2.unpersist(blocking = false)
    labels.orderBy("node")
  }

  /** The pre-partitioned cached adjacency the rounds iterate over —
    * split out so PlanSpec can gate the round body's exchange count. */
  private[graft] def lpAdjacency(und: DataFrame): DataFrame =
    und.union(und.select(col("b").as("a"), col("a").as("b")))
      .repartition(col("a"))
      .cache()

  /** One synchronous-LPA round: neighbor label counts, then the
    * deterministic (count desc, label asc) argmax — both aggregations
    * clustered by a subset of hash(a), so the round plans no exchange
    * of its own. */
  private[graft] def lpRound(e2: DataFrame, labels: DataFrame): DataFrame =
    e2.join(broadcast(labels), e2("b") === labels("node"))
      .select(col("a"), col("label").as("nl"))
      .groupBy("a", "nl").agg(count(lit(1)).as("c"))
      .groupBy("a")
      .agg(min(struct((-col("c")).as("nc"), col("nl").as("l"))).as("m"))
      .select(col("a").as("node"), col("m.l").as("label"))

  /** The labelprop CTE chain (through l{LpRounds}) — shared by the
    * labelprop oracle and the modularity oracle that scores its
    * communities. */
  private lazy val labelPropCtes: String = {
    val rounds = (1 to LpRounds).map { i =>
      val prev = s"l${i - 1}"
      s"""cnt$i AS MATERIALIZED (
         |  SELECT e.a, l.label AS nl, count(*) AS c
         |  FROM e2 e JOIN $prev l ON e.b = l.node
         |  GROUP BY e.a, l.label),
         |l$i AS MATERIALIZED (
         |  SELECT a AS node, min({'nc': -c, 'l': nl}).l AS label
         |  FROM cnt$i GROUP BY a)""".stripMargin
    }.mkString(",\n")
    s"""$coEdgesSql,
       |e2 AS MATERIALIZED (
       |  SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
       |l0 AS MATERIALIZED (
       |  SELECT DISTINCT a AS node, a AS label FROM e2),
       |$rounds""".stripMargin
  }

  lazy val labelPropSql: String =
    s"""WITH $labelPropCtes
       |SELECT node, label FROM l$LpRounds ORDER BY node""".stripMargin

  // --- q_gr_modularity --------------------------------------------------------
  // NEWMAN MODULARITY of the labelprop communities — the quality score
  // that tells you whether the partition means anything: Q = Σ_c
  // (e_c/m − (d_c/2m)²), internal-edge share minus the share a random
  // degree-preserving rewiring would produce. Community detection
  // without its modularity is a number nobody can act on. All inputs
  // are exact integers (internal edge counts, degree sums, m); each
  // community's term quantizes at 1e12 into a BIGINT before the sum —
  // the sum over communities is otherwise a float reduction whose
  // order neither engine pins. The labels come from the SAME
  // propagation the oracle replays as CTEs, so the score is
  // cross-engine exact end-to-end. Scale: two broadcast joins of the
  // node-grain label vector onto the edge list + digest-grain math.
  def modularity(s: SparkSession, d: String): DataFrame = {
    val und = coEdges(s, d)
    val lab = labelProp(s, d).localCheckpoint() // (node, label) — 3 readers
    val deg = und.select(col("a")).unionAll(und.select(col("b").as("a")))
      .groupBy("a").agg(count(lit(1)).as("deg"))
    val dc = deg.join(broadcast(lab), deg("a") === lab("node"))
      .groupBy("label").agg(sum(col("deg")).as("dc"))
    val ecc = und
      .join(broadcast(lab.select(col("node").as("a"), col("label").as("la"))), "a")
      .join(broadcast(lab.select(col("node").as("b"), col("label").as("lb"))), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("ec"))
    val m = und.agg(count(lit(1)).as("m"))
    def md = col("m").cast("double")
    val terms = dc.join(ecc, Seq("label"), "left").crossJoin(broadcast(m))
      .select(round((coalesce(col("ec"), lit(0L)).cast("double") / md
        - (col("dc").cast("double") / (lit(2.0) * md))
          * (col("dc").cast("double") / (lit(2.0) * md))) * lit(1e12))
        .cast("long").as("q"))
    terms.agg(count(lit(1)).as("n_communities"), sum(col("q")).as("sq"))
      .crossJoin(broadcast(m.select(col("m").as("m_edges"))))
      .select(col("n_communities"), col("m_edges"),
        (col("sq").cast("double") / lit(1e12)).as("modularity"))
  }

  lazy val modularitySql: String =
    s"""WITH $labelPropCtes,
       |deg AS MATERIALIZED (
       |  SELECT a, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a FROM und UNION ALL SELECT b AS a FROM und)
       |  GROUP BY 1),
       |dc AS MATERIALIZED (
       |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS dc
       |  FROM deg d JOIN l$LpRounds l ON l.node = d.a GROUP BY 1),
       |ecc AS MATERIALIZED (
       |  SELECT la.label, CAST(count(*) AS BIGINT) AS ec
       |  FROM und u
       |  JOIN l$LpRounds la ON la.node = u.a
       |  JOIN l$LpRounds lb ON lb.node = u.b
       |  WHERE la.label = lb.label
       |  GROUP BY 1),
       |mm AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |terms AS MATERIALIZED (
       |  SELECT CAST(round((CAST(coalesce(e.ec, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
       |      - (CAST(d.dc AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE)))
       |        * (CAST(d.dc AS DOUBLE) / (2.0 * CAST(mm.m AS DOUBLE))))
       |      * 1e12) AS BIGINT) AS q
       |  FROM dc d LEFT JOIN ecc e USING (label), mm)
       |SELECT CAST(count(*) AS BIGINT) AS n_communities,
       |  (SELECT m FROM mm) AS m_edges,
       |  CAST(sum(q) AS BIGINT)::DOUBLE / 1e12 AS modularity
       |FROM terms""".stripMargin

  // --- q_gr_item_sim --------------------------------------------------------
  // ITEM-ITEM JACCARD RECOMMENDATIONS — the co-occurrence recommender
  // ("customers who bought a also bought b") over the same capped
  // basket frame the graph family derives its edges from, but with
  // CO-COUNTS instead of the distinct edge set: jaccard(a, b) =
  // |orders(a) ∩ orders(b)| / (|orders(a)| + |orders(b)| − ∩), all
  // exact integers divided once in double space. Top-3 per item by
  // (jaccard DESC, neighbor) via the bounded top_k_by aggregate (a
  // k-heap per item at every stage — see the in-body note); the pair
  // fan-out is bounded by the ≤16 basket cap (≤120 pairs per order),
  // degrees ride a broadcast join. Items whose baskets never overlap
  // emit no rows.
  private val ItemSimK = 3

  def itemSim(s: SparkSession, d: String): DataFrame = {
    val b = cappedBasket(s, d) // staged — shared with the edge derivation
    val deg = b.groupBy("pk").agg(count(lit(1)).as("deg"))
    // the co-count aggregation — the dominant exchange (pair-grain, the
    // data itself) — keys on the PACKED a*2^32+b long instead of two
    // longs (the triangleCountsOf discipline: one 8-byte key instead of
    // 16 on every shuffled row). Injective only while part keys fit 31
    // bits; assert on the item-grain degree table so a key-domain change
    // fails loudly (one scalar off a catalogue-grain aggregate).
    val maxPk = deg.agg(max(col("pk"))).head
    if (!maxPk.isNullAt(0))
      require(maxPk.getLong(0) < (1L << 31),
        s"item-sim pair packing requires part keys < 2^31; " +
          s"max key is ${maxPk.getLong(0)}")
    val pairs = b.as("x").join(b.as("y"), "ok")
      .filter(col("x.pk") < col("y.pk"))
      .groupBy((col("x.pk") * lit(1L << 32) + col("y.pk")).as("pq"))
      .agg(count(lit(1)).as("co"))
      .select(expr("pq DIV 4294967296").as("a"),
        (col("pq") % lit(1L << 32)).as("b"), col("co"))
    val sym = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b"), col("co")))
    val scored = sym
      .join(broadcast(deg.select(col("pk").as("a"), col("deg").as("da"))), "a")
      .join(broadcast(deg.select(col("pk").as("b"), col("deg").as("db"))), "b")
      .select(col("a").as("part_id"), col("b").as("rec_id"), col("co"),
        (col("co").cast("double") /
          (col("da") + col("db") - col("co")).cast("double")).as("jaccard"))
    // top-3 per item via the bounded top_k_by partial aggregate instead
    // of a per-key window sort: the window form exchanged and SORTED the
    // full symmetric pair digest just to keep 3 rows per item, while the
    // aggregate keeps a k-element heap per item at every stage — map-side
    // combine caps what reaches the exchange at k rows per (partition,
    // item), so the shuffle carries item-grain digests, not pair-grain
    // data (the shape that matters when co-count pairs grow superlinearly
    // at 100 TB). Ordering is identical to the window's (jaccard DESC,
    // rec_id ASC): struct(jaccard, -rec_id) under "largest first", with
    // rec_id unique per item making the pick deterministic.
    val topped = scored.groupBy("part_id")
      .agg(graft.functions.TopKByFunctions.topKBy(
        struct(col("jaccard"), (-col("rec_id")).as("neg_rec"), col("co")),
        ItemSimK).as("top"))
    topped
      .select(col("part_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("part_id"), (col("pos") + 1).cast("bigint").as("rank"),
        (-col("t.neg_rec")).as("rec_id"), col("t.co").as("co"),
        col("t.jaccard").as("jaccard"))
      .orderBy("part_id", "rank")
  }

  val itemSimSql: String =
    s"""WITH basket AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |oko AS MATERIALIZED (
       |  SELECT ok FROM basket GROUP BY ok HAVING count(*) <= $MaxBasket),
       |b AS MATERIALIZED (
       |  SELECT basket.ok, basket.pk FROM basket JOIN oko USING (ok)),
       |deg AS MATERIALIZED (
       |  SELECT pk, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY 1),
       |pairs AS MATERIALIZED (
       |  SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS co
       |  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2),
       |sym AS MATERIALIZED (
       |  SELECT a, b, co FROM pairs
       |  UNION ALL SELECT b, a, co FROM pairs),
       |scored AS MATERIALIZED (
       |  SELECT s.a AS part_id, s.b AS rec_id, s.co,
       |    s.co::DOUBLE / (dA.deg + dB.deg - s.co)::DOUBLE AS jaccard
       |  FROM sym s JOIN deg dA ON s.a = dA.pk JOIN deg dB ON s.b = dB.pk)
       |SELECT part_id, rank, rec_id, co, jaccard FROM (
       |  SELECT part_id, rec_id, co, jaccard,
       |    CAST(row_number() OVER (PARTITION BY part_id
       |      ORDER BY jaccard DESC, rec_id) AS BIGINT) AS rank
       |  FROM scored)
       |WHERE rank <= $ItemSimK
       |ORDER BY part_id, rank""".stripMargin

  // --- q_gr_assoc_rules -------------------------------------------------------
  // ASSOCIATION RULES over the capped co-purchase baskets — the
  // market-basket classic itemSim's jaccard deliberately isn't:
  // directed a→b rules with support / confidence / LIFT, the measure
  // that separates "popular with everything" from "genuinely
  // predictive" (lift = N·c_ab/(c_a·c_b) — co-occurrence against the
  // independence baseline). All counts are exact integers from the
  // staged basket (support floor kills one-off noise); confidence and
  // lift are each ONE division of exact DECIMAL(38,0) products, so the
  // double order keys are bit-identical across engines. Top-100 by
  // (lift DESC, rule) is ORDER BY + LIMIT — TakeOrderedAndProject,
  // never a global sort. Scale: same bounded pair fan-out as
  // itemSim/triangles (≤ C(16,2) pairs per order); the 1-row order
  // count rides a broadcast crossJoin, never a collect.
  private val AssocMinSup = 3L
  private val AssocTopK = 100

  def assocRules(s: SparkSession, d: String): DataFrame = {
    val b = cappedBasket(s, d) // staged — shared with the edge derivation
    val nOrders = b.select("ok").distinct().agg(count(lit(1)).as("n_orders"))
    val deg = b.groupBy("pk").agg(count(lit(1)).as("deg"))
    // the co-count aggregation — the dominant exchange (pair-grain, the
    // data itself) — keys on the PACKED a*2^32+b long instead of two
    // longs (the itemSim/triangleCountsOf discipline: one 8-byte key on
    // every shuffled row). Injective only while part keys fit 31 bits;
    // assert on the item-grain degree table so a key-domain change fails
    // loudly (one scalar off a catalogue-grain aggregate).
    val maxPk = deg.agg(max(col("pk"))).head
    if (!maxPk.isNullAt(0))
      require(maxPk.getLong(0) < (1L << 31),
        s"assoc-rules pair packing requires part keys < 2^31; " +
          s"max key is ${maxPk.getLong(0)}")
    val pairs = b.as("x").join(b.as("y"), "ok")
      .filter(col("x.pk") < col("y.pk"))
      .groupBy((col("x.pk") * lit(1L << 32) + col("y.pk")).as("pq"))
      .agg(count(lit(1)).as("co"))
      .filter(col("co") >= AssocMinSup)
      .select(expr("pq DIV 4294967296").as("a"),
        (col("pq") % lit(1L << 32)).as("b"), col("co"))
    val sym = pairs.unionByName(
      pairs.select(col("b").as("a"), col("a").as("b"), col("co")))
    sym
      .join(broadcast(deg.select(col("pk").as("a"), col("deg").as("ca"))), "a")
      .join(broadcast(deg.select(col("pk").as("b"), col("deg").as("cb"))), "b")
      .crossJoin(broadcast(nOrders))
      .select(col("a").as("antecedent"), col("b").as("consequent"),
        col("co").as("support_n"), col("ca"), col("cb"), col("n_orders"),
        (col("co").cast("double") / col("ca").cast("double")).as("confidence"),
        // cast BEFORE the multiply (matching the oracle): ca·cb is
        // bounded by n_orders² — long×long overflows under ANSI at
        // exactly the warehouse grain the decimal is here for
        ((col("co").cast("decimal(38,0)") * col("n_orders")).cast("double") /
          (col("ca").cast("decimal(38,0)") * col("cb")).cast("double"))
          .as("lift"))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(AssocTopK)
  }

  val assocRulesSql: String =
    s"""WITH basket AS MATERIALIZED (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |oko AS MATERIALIZED (
       |  SELECT ok FROM basket GROUP BY ok HAVING count(*) <= $MaxBasket),
       |b AS MATERIALIZED (
       |  SELECT basket.ok, basket.pk FROM basket JOIN oko USING (ok)),
       |n AS MATERIALIZED (
       |  SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
       |deg AS MATERIALIZED (
       |  SELECT pk, CAST(count(*) AS BIGINT) AS deg FROM b GROUP BY 1),
       |pairs AS MATERIALIZED (
       |  SELECT x.pk AS a, y.pk AS b, CAST(count(*) AS BIGINT) AS co
       |  FROM b x JOIN b y ON x.ok = y.ok AND x.pk < y.pk
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $AssocMinSup),
       |sym AS MATERIALIZED (
       |  SELECT a, b, co FROM pairs
       |  UNION ALL SELECT b, a, co FROM pairs)
       |SELECT s.a AS antecedent, s.b AS consequent, s.co AS support_n,
       |  dA.deg AS ca, dB.deg AS cb, n.n_orders,
       |  s.co::DOUBLE / dA.deg::DOUBLE AS confidence,
       |  CAST(CAST(s.co AS DECIMAL(38,0)) * n.n_orders AS DOUBLE)
       |    / CAST(CAST(dA.deg AS DECIMAL(38,0)) * dB.deg AS DOUBLE) AS lift
       |FROM sym s
       |JOIN deg dA ON s.a = dA.pk
       |JOIN deg dB ON s.b = dB.pk
       |CROSS JOIN n
       |ORDER BY lift DESC, antecedent, consequent
       |LIMIT $AssocTopK""".stripMargin

  // --- q_gr_assortativity ---------------------------------------------------
  // DEGREE ASSORTATIVITY (Newman 2002) of the co-purchase graph — do
  // high-degree parts co-occur with other high-degree parts (r > 0,
  // social-network-like) or with leaves (r < 0, hub-and-spoke)? The
  // Pearson correlation of (deg(u), deg(v)) over DIRECTED edge
  // endpoints (both orientations of each undirected edge, the standard
  // formulation — which also makes Sx = Sy and Sxx = Syy by symmetry,
  // so three moments suffice). Degrees are exact BIGINT counts, the
  // five moments are exact integers in DECIMAL(38,0) (deg² per edge ×
  // |E| outgrows Long at warehouse scale), and r is ONE double
  // division with fixed operand order ⇒ bit-identical across engines.
  // Scale: deg is a node-grain aggregate of the staged edge list; the
  // two deg joins are node-keyed equi-joins; the moment aggregation is
  // map-side combinable to a 1-row digest. No window, no sort.
  def assortativity(s: SparkSession, d: String): DataFrame = {
    val und = coEdges(s, d)
    val e2 = und.unionAll(und.select(col("b").as("a"), col("a").as("b")))
    val deg = e2.groupBy(col("a").as("n")).agg(count(lit(1)).as("deg"))
    val m = e2
      .join(deg.select(col("n").as("a"), col("deg").as("dx")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("dy")), "b")
      .agg(count(lit(1)).as("n"),
        sum(col("dx").cast("decimal(38,0)")).as("sx"),
        sum((col("dx") * col("dy")).cast("decimal(38,0)")).as("sxy"),
        sum((col("dx") * col("dx")).cast("decimal(38,0)")).as("sxx"))
    m.select(expr("n DIV 2").as("n_edges"), // integer divide on both sides
        // a REGULAR graph (all degrees equal) has zero degree variance:
        // assortativity is undefined, report 0.0 — never Inf/NaN
        when((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast("double") > 0.0,
          (col("n") * col("sxy") - col("sx") * col("sx")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          .otherwise(lit(0.0)).as("assortativity"))
  }

  val assortativitySql: String =
    s"""WITH $coEdgesSql,
       |e2 AS MATERIALIZED (
       |  SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
       |deg AS MATERIALIZED (
       |  SELECT a AS n, CAST(count(*) AS BIGINT) AS deg FROM e2 GROUP BY 1),
       |m AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    sum(CAST(dx.deg AS DECIMAL(38,0))) AS sx,
       |    sum(CAST(dx.deg * dy.deg AS DECIMAL(38,0))) AS sxy,
       |    sum(CAST(dx.deg * dx.deg AS DECIMAL(38,0))) AS sxx
       |  FROM e2 JOIN deg dx ON e2.a = dx.n JOIN deg dy ON e2.b = dy.n)
       |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
       |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0.0
       |    THEN CAST(n * sxy - sx * sx AS DOUBLE) /
       |         CAST(n * sxx - sx * sx AS DOUBLE)
       |    ELSE 0.0 END AS assortativity
       |FROM m""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_gr_assortativity" -> (assortativity _),
    "q_gr_item_sim" -> (itemSim _),
    "q_gr_assoc_rules" -> (assocRules _),
    "q_gr_clustering" -> (clusteringCoeff _),
    "q_gr_bfs" -> (bfs _),
    "q_gr_closeness" -> (closeness _),
    "q_gr_diameter" -> (diameter _),
    "q_gr_scc" -> (scc _),
    "q_gr_connected" -> (connected _),
    "q_gr_connected_lss" -> (connectedLss _),
    "q_gr_kcore" -> (kcore _),
    "q_gr_pagerank" -> (pageRank _),
    "q_gr_ppr" -> (personalizedPageRank _),
    "q_gr_hits" -> (hits _),
    "q_gr_triangles" -> (triangles _),
    "q_gr_labelprop" -> (labelProp _),
    "q_gr_modularity" -> (modularity _))

  val oracles: Map[String, String] = Map(
    "q_gr_assortativity" -> assortativitySql,
    "q_gr_item_sim" -> itemSimSql,
    "q_gr_assoc_rules" -> assocRulesSql,
    "q_gr_clustering" -> clusteringSql,
    "q_gr_bfs" -> bfsSql,
    "q_gr_closeness" -> closenessSql,
    "q_gr_diameter" -> diameterSql,
    "q_gr_scc" -> sccSql,
    "q_gr_connected" -> connectedSql,
    // same partition, same oracle: the star engine must agree with the
    // min-label fixpoint bit-for-bit
    "q_gr_connected_lss" -> connectedSql,
    "q_gr_kcore" -> kcoreSql,
    "q_gr_pagerank" -> pageRankSql,
    "q_gr_ppr" -> personalizedPageRankSql,
    "q_gr_hits" -> hitsSql,
    "q_gr_triangles" -> trianglesSql,
    "q_gr_labelprop" -> labelPropSql,
    "q_gr_modularity" -> modularitySql)
}
