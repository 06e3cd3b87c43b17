package graft

import graft.queries.Graph

/** PageRank invariants the hash oracle can't express on its own:
  * probability-mass conservation and the hub-vs-leaf ordering the
  * damped walk must produce on the bipartite interaction graph.
  */
class GraphSpec extends SparkSpec {

  test("pagerank conserves probability mass and stays above teleport floor") {
    val rows = Graph.pageRank(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    val mass = rows.map(_.getAs[Double]("rank")).sum
    // each round redistributes mass exactly (teleport + damped in-flow);
    // the only loss is the 1e-12 contribution quantization, bounded by
    // edges × half-quantum per round
    assert(math.abs(mass - 1.0) < 1e-4, s"rank mass drifted: $mass")
    val floor = 0.15 / n.toDouble
    rows.foreach(r => assert(r.getAs[Double]("rank") >= floor - 1e-15,
      s"rank below teleport floor for node ${r.getAs[Long]("node")}"))
  }

  test("personalized pagerank: mass conserved, ranks concentrate on seeds") {
    val rows = Graph.personalizedPageRank(spark, sf).collect()
    val n = rows.length
    assert(n > 0)
    // teleport returns ALL mass to the seed set each round, so total
    // mass is conserved at 1 (up to contribution quantization)
    val mass = rows.map(_.getAs[Double]("rank")).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"ppr mass drifted: $mass")
    // locality: the seed set (every 5th supplier node) holds far more
    // than its uniform share of the mass — that concentration is the
    // whole point of personalization
    val isSeed = (node: Long) => node % 2 == 0 && (node / 2) % 5 == 0
    val seedMass = rows.filter(r => isSeed(r.getAs[Long]("node")))
      .map(_.getAs[Double]("rank")).sum
    val seedShare = rows.count(r => isSeed(r.getAs[Long]("node"))).toDouble / n
    assert(seedMass > 2.0 * seedShare,
      s"seed mass $seedMass not concentrated (uniform share $seedShare)")
    // non-seed nodes get mass only through the walk, never teleport —
    // distant nodes decay toward zero instead of a global floor
    rows.foreach(r => assert(r.getAs[Double]("rank") >= 0.0))
  }

  test("pagerank ranks hubs above leaves: suppliers out-rank customers") {
    // ~100 suppliers serve ~1500 customers: each supplier aggregates
    // in-flow from many customers, so the mean supplier rank must
    // strictly exceed the mean customer rank (hub property)
    val rows = Graph.pageRank(spark, sf).collect()
    val (sup, cust) = rows.partition(_.getAs[Long]("node") % 2 == 0)
    assert(sup.nonEmpty && cust.nonEmpty)
    val supMean = sup.map(_.getAs[Double]("rank")).sum / sup.length
    val custMean = cust.map(_.getAs[Double]("rank")).sum / cust.length
    assert(supMean > custMean * 2,
      s"supplier hubs should dominate: sup=$supMean cust=$custMean")
  }

  test("triangles: per-node counts agree with the naive all-pairs count") {
    val perNode = Graph.triangles(spark, sf).collect()
    assert(perNode.nonEmpty)
    // independent brute force on the sf0.001 edge list: collect the
    // undirected edges (small at this SF) and enumerate triangles
    // adjacency-set style — a deliberately different algorithm than
    // the degree-oriented wedge join under test
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").distinct()
    val basket = li.collect().groupBy(_.getLong(0)).values
      .filter(_.length <= 16).toSeq
    val und = basket.flatMap { rows =>
      val ps = rows.map(_.getLong(1)).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    var expected = Map.empty[Long, Long].withDefaultValue(0L)
    for ((a, b) <- und; c <- adj(a) if c > b && adj(b).contains(c)) {
      expected += a -> (expected(a) + 1)
      expected += b -> (expected(b) + 1)
      expected += c -> (expected(c) + 1)
    }
    val got = perNode.map(r =>
      r.getAs[Long]("node") -> r.getAs[Long]("n_triangles")).toMap
    assert(got === expected.filter(_._2 > 0),
      "per-node triangle counts diverge from the brute-force enumeration")
    // and the aggregate identity: per-node counts sum to 3× #triangles
    assert(got.values.sum % 3 === 0)
  }

  test("clustering coefficient replays a brute neighbor-link recount") {
    val rows = Graph.clusteringCoeff(spark, sf).collect()
    assert(rows.nonEmpty)
    // brute adjacency sets over the same capped-basket edges
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey").distinct()
    val basket = li.collect().groupBy(_.getLong(0)).values
      .filter(_.length <= 16).toSeq
    val und = basket.flatMap { rows0 =>
      val ps = rows0.map(_.getLong(1)).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = adj.collect { case (v, nb) if nb.size >= 2 =>
      val ns = nb.toSeq.sorted
      val links = (for (i <- ns.indices; j <- i + 1 until ns.length
                        if adj(ns(i)).contains(ns(j))) yield 1).sum.toLong
      v -> (nb.size.toLong, links,
        2.0 * links / (nb.size.toLong * (nb.size - 1)))
    }
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val v = r.getAs[Long]("node")
      val (deg, tri, c) = expected(v)
      assert(r.getAs[Long]("deg") === deg, s"node $v deg")
      assert(r.getAs[Long]("n_triangles") === tri, s"node $v triangles")
      assert(math.abs(r.getAs[Double]("coeff") - c) < 1e-12, s"node $v coeff")
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("triangles plan: equi-joins only, no cartesian product") {
    val df = Graph.triangles(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "degree-oriented wedge join must stay an equi-join")
  }

  test("label propagation matches a sequential sync-LPA replay on collected edges") {
    val got = Graph.labelProp(spark, sf).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got.nonEmpty)
    // independent sequential implementation of the same contract:
    // 3 sync rounds, most-frequent neighbor label, ties by min label
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").distinct().collect()
    val basket = li.groupBy(_.getLong(0)).values.filter(_.length <= 16)
    val und = basket.flatMap { rows =>
      val ps = rows.map(_.getLong(1)).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSeq.distinct
    val adj = und.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 3) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).map { case (l, v) => (l, v.size) }
        n -> counts.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got === labels,
      "distributed sync LPA diverges from the sequential replay")
    // communities actually form: strictly fewer labels than nodes
    assert(got.values.toSet.size < got.size)
  }

  test("item-sim recs: ranks dense, jaccard ordered and in (0,1], symmetric co-counts") {
    import org.apache.spark.sql.functions._
    val rows = Graph.itemSim(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"jaccard $j out of range")
      assert(r.getAs[Long]("co") >= 1L)
      assert(r.getAs[Long]("part_id") !== r.getAs[Long]("rec_id"))
    }
    rows.groupBy(_.getAs[Long]("part_id")).foreach { case (p, rs) =>
      val byRank = rs.sortBy(_.getAs[Long]("rank"))
      assert(byRank.map(_.getAs[Long]("rank")).toSeq ===
        (1L to rs.length.toLong), s"part $p ranks not dense")
      val js = byRank.map(_.getAs[Double]("jaccard"))
      assert(js.zip(js.tail).forall { case (a, b) => a >= b },
        s"part $p jaccard increases down the ranking")
    }
    // spot-check one pair's jaccard against a brute basket recount
    val r0 = rows.head
    val (a, b) = (r0.getAs[Long]("part_id"), r0.getAs[Long]("rec_id"))
    val basket = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val keep = basket.groupBy("ok").count().filter(col("count") <= 16).select("ok")
    val kept = basket.join(keep, "ok")
    val oa = kept.filter(col("pk") === a).select("ok").collect().map(_.getLong(0)).toSet
    val ob = kept.filter(col("pk") === b).select("ok").collect().map(_.getLong(0)).toSet
    val co = oa.intersect(ob).size.toLong
    assert(r0.getAs[Long]("co") === co)
    assert(math.abs(r0.getAs[Double]("jaccard") -
      co.toDouble / (oa.size + ob.size - co)) < 1e-12)
  }

  test("assoc rules: confidence/lift replay a brute basket recount, lift symmetric") {
    import org.apache.spark.sql.functions._
    val rows = Graph.assocRules(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 100)
    // lift ordering is the presentation contract
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
    rows.foreach { r =>
      val conf = r.getAs[Double]("confidence")
      assert(conf > 0.0 && conf <= 1.0)
      assert(r.getAs[Long]("support_n") >= 3L)
    }
    // directed pair symmetry: lift(a→b) = lift(b→a) whenever both made
    // the page (support filter is symmetric; top-k may cut one side)
    val byPair = rows.map(r => (r.getAs[Long]("antecedent"),
      r.getAs[Long]("consequent")) -> r.getAs[Double]("lift")).toMap
    byPair.foreach { case ((a, b), l) =>
      byPair.get((b, a)).foreach(l2 => assert(l === l2, s"lift asym ($a,$b)"))
    }
    // brute recount of the top rule against the capped baskets
    val r0 = rows.head
    val (a, b) = (r0.getAs[Long]("antecedent"), r0.getAs[Long]("consequent"))
    val basket = graft.Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
    val keep = basket.groupBy("ok").count().filter(col("count") <= 16).select("ok")
    val kept = basket.join(keep, "ok").localCheckpoint()
    val n = kept.select("ok").distinct().count()
    val oa = kept.filter(col("pk") === a).select("ok").collect().map(_.getLong(0)).toSet
    val ob = kept.filter(col("pk") === b).select("ok").collect().map(_.getLong(0)).toSet
    val co = oa.intersect(ob).size.toLong
    assert(r0.getAs[Long]("support_n") === co)
    assert(r0.getAs[Long]("n_orders") === n)
    assert(math.abs(r0.getAs[Double]("confidence") - co.toDouble / oa.size) < 1e-12)
    assert(math.abs(r0.getAs[Double]("lift") -
      (BigInt(co) * n).toDouble / (BigInt(oa.size) * ob.size).toDouble) < 1e-12)
  }

  test("HITS: unit-norm sides, positive scores, bipartite counts") {
    val rows = Graph.hits(spark, sf).collect()
    val (auth, hub) = rows.partition(_.getAs[String]("side") == "authority")
    assert(auth.nonEmpty && hub.nonEmpty)
    // suppliers are the authority side; the synthetic schema has far
    // fewer suppliers than customers
    assert(auth.length < hub.length)
    for (side <- Seq(auth, hub)) {
      side.foreach(r => assert(r.getAs[Double]("score") > 0.0))
      val norm = side.map(r => math.pow(r.getAs[Double]("score"), 2)).sum
      assert(math.abs(norm - 1.0) < 1e-9, s"L2 norm drifted: $norm")
    }
  }

  test("k-core: cascading peel strips a pendant chain, keeps the clique, converges in bound") {
    import ss.implicits._
    import org.apache.spark.sql.functions._
    // K4 clique (1-2-3-4) + a CASCADING tail: 5 (→3,4,6) and 6 (→4,5,7)
    // start at degree 3, so only 7 (deg 1) peels in round 1 — which
    // drops 6 to degree 2 (round 2), which drops 5 (round 3). A
    // one-shot "remove all low nodes" pass would stop early; true
    // peeling needs the per-round fixpoint loop.
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 5L), (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L)).toDF("a", "b")
    val (coreDf, rounds) = Graph.kcoreOf(edges)
    val core = coreDf.collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("deg"))).toMap
    assert(core === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"3-core must be exactly the K4: $core")
    assert(rounds <= 8, "spec graph must converge within the oracle bound")
    assert(rounds === 3, "pendant chain peels one node per round")
    // the real corpus converges within the oracle's fixed peel depth
    val (corpusCore, corpusRounds) = Graph.kcoreOf(Graph.coEdges(spark, sf))
    corpusCore.collect()
    assert(corpusRounds >= 0 && corpusRounds <= 8,
      s"corpus peeling must fit the oracle's ${8} rounds: ${corpusRounds}")
    // fixpoint: every surviving node has degree >= 3 by definition
    Graph.kcore(spark, sf).collect().foreach(r =>
      assert(r.getAs[Long]("deg") >= 3L))
  }

  test("BFS hop digest matches a brute single-machine BFS over the staged edges") {
    import org.apache.spark.sql.functions._
    val rows = Graph.bfs(spark, sf).collect()
    assert(rows.nonEmpty)
    val edges = Graph.coEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => (k, v.map(_._2)) }
    val src = edges.map(_._1).min
    val dist = scala.collection.mutable.Map(src -> 0L)
    var frontier = Set(src)
    for (k <- 1 to 6) {
      frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
        .filterNot(dist.contains)
      frontier.foreach(n => dist(n) = k.toLong)
    }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).toSet
    val expected = dist.toSeq.groupBy(_._2).map { case (d, ns) =>
      (d, (ns.size.toLong, ns.map(_._1).min, ns.map(_._1).max))
    } ++ {
      val un = nodes -- dist.keySet
      if (un.isEmpty) Map.empty
      else Map(-1L -> ((un.size.toLong, un.min, un.max)))
    }
    assert(rows.length === expected.size)
    rows.foreach { r =>
      val d = r.getAs[Long]("dist")
      val (n, lo, hi) = expected(d)
      assert(r.getAs[Long]("n_nodes") === n, s"hop $d count")
      assert(r.getAs[Long]("min_node") === lo && r.getAs[Long]("max_node") === hi,
        s"hop $d id range")
    }
  }

  test("closeness estimates match a brute multi-source BFS over the staged edges") {
    val rows = Graph.closeness(spark, sf).collect()
      .map(r => r.getAs[Long]("node") ->
        ((r.getAs[Long]("n_src_reached"), r.getAs[Long]("sum_dist"),
          r.getAs[Double]("harmonic"), r.getAs[Double]("closeness_hat")))).toMap
    assert(rows.nonEmpty)
    val edges = Graph.coEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => (k, v.map(_._2)) }
    val srcs = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted.take(4)
    val dists = srcs.flatMap { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      var frontier = Set(s)
      for (k <- 1 to 6) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
          .filterNot(dist.contains)
        frontier.foreach(n => dist(n) = k.toLong)
      }
      dist.toSeq.map { case (n, d) => (n, d) }
    }.filter(_._2 >= 1)
    val byNode = dists.groupBy(_._1)
    assert(rows.keySet === byNode.keySet)
    byNode.foreach { case (node, ds) =>
      val (nr, sd, h, ch) = rows(node)
      assert(nr === ds.length.toLong, s"node $node n_src_reached")
      assert(sd === ds.map(_._2).sum, s"node $node sum_dist")
      val eh = (1 to 6).map(d => ds.count(_._2 == d.toLong).toDouble / d).sum
      assert(math.abs(h - eh) < 1e-12, s"node $node harmonic")
      assert(math.abs(ch - nr.toDouble / sd.toDouble) < 1e-15, s"node $node closeness")
    }
  }

  test("diameter audit: eccentricities, lower bound and 90% effective diameter replay brute") {
    val rows = Graph.diameter(spark, sf).collect()
    assert(rows.nonEmpty)
    val edges = Graph.coEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => (k, v.map(_._2)) }
    val srcs = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted.take(4)
    val dists = srcs.map { s =>
      val dist = scala.collection.mutable.Map(s -> 0L)
      var frontier = Set(s)
      for (k <- 1 to 6) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[Long]))
          .filterNot(dist.contains)
        frontier.foreach(n => dist(n) = k.toLong)
      }
      s -> dist.toSeq.filter(_._2 >= 1)
    }.toMap
    val allD = dists.values.flatten.map(_._2).toSeq.sorted
    val thr = allD((math.ceil(0.9 * allD.size) - 1).toInt)
    val dlb = dists.values.map(_.map(_._2).max).max
    rows.foreach { r =>
      val s = r.getAs[Long]("src")
      assert(r.getAs[Long]("ecc_hat") === dists(s).map(_._2).max, s"src $s ecc")
      assert(r.getAs[Long]("n_reached") === dists(s).size.toLong, s"src $s reach")
      assert(r.getAs[Long]("diameter_lb") === dlb)
      assert(r.getAs[Long]("eff_diameter") === thr)
    }
  }

  test("SCC forward-backward decomposition labels all four cells on a crafted digraph") {
    import java.nio.file.Files
    import ss.implicits._
    // transitions: A<->B (the pivot SCC), A->C (forward-only),
    // D->A (backward-only), E->F (disconnected => rest)
    val dir = Files.createTempDirectory("graft-scc").toString
    val seqs = Seq(
      (1L, Seq("A", "B", "A")),
      (2L, Seq("A", "C")),
      (3L, Seq("D", "A")),
      (4L, Seq("E", "F")))
    seqs.flatMap { case (uid, evs) =>
      evs.zipWithIndex.map { case (et, i) =>
        (uid * 100 + i, (uid * 1000000L + i) * 1000000000L, uid, et, 0.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Graph.scc(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[String]("part"), r.getAs[Long]("scc_size")))).toMap
    assert(rows("A")._1 === "scc" && rows("B")._1 === "scc")
    assert(rows("C")._1 === "fwd", "reachable from pivot but not back")
    assert(rows("D")._1 === "bwd", "reaches pivot but not reachable")
    assert(rows("E")._1 === "rest" && rows("F")._1 === "rest")
    assert(rows.values.forall(_._2 === 2L), "pivot SCC is exactly {A, B}")
    // and the real corpus runs end-to-end
    assert(Graph.scc(spark, sf).collect().nonEmpty)
  }

  test("connected components equal a union-find over the collected edge set") {
    val rows = Graph.connected(spark, sf).collect()
    assert(rows.nonEmpty)
    val edges = Graph.coEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // larger root attaches under smaller, so every final root is its
      // component's minimum — the operator's component id convention
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = parent.keys.toSeq.map(n => (find(n), n)).groupBy(_._1)
    assert(rows.length === comps.size, "component count")
    rows.foreach { r =>
      val c = r.getAs[Long]("component")
      val members = comps(c).map(_._2)
      assert(members.min === c, s"component id $c is not its minimum node")
      assert(r.getAs[Long]("n_nodes") === members.size.toLong, s"size of $c")
      assert(r.getAs[Long]("max_node") === members.max, s"max of $c")
    }
    // partition property: sizes sum to the node universe
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    assert(rows.map(_.getAs[Long]("n_nodes")).sum === nodes.length.toLong)
  }

  test("connected components label a multi-component fixture correctly") {
    // The testdata co-purchase graph is one giant component at every
    // SF, so the sf-driven test above never exercises labeling ACROSS
    // components: drive the propagation core on a fixture with three
    // components of different shapes — a 5-node chain (forces several
    // propagation rounds: eccentricity from the min node is 4), a
    // triangle with a tail, and an isolated pair — and check the
    // id-is-min convention, sizes, and maxima per component.
    import ss.implicits._
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), // chain 1-2-3-4-5
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L), // triangle + tail
      (21L, 20L)) // pair
      .toDF("a", "b")
    val rows = graft.queries.Graph.connectedOf(edges)
      .collect().map(r => (r.getAs[Long]("component"),
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("max_node")))).toMap
    assert(rows === Map(1L -> ((5L, 5L)), 10L -> ((4L, 13L)),
      20L -> ((2L, 21L))))
  }

  test("large-star/small-star equals the min-label fixpoint on a multi-component fixture") {
    import ss.implicits._
    // the same three-shape fixture the min-label test uses, PLUS
    // reversed/duplicated edges to prove canonicalization
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), // chain 1-2-3-4-5
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L), // triangle + tail
      (3L, 2L), (2L, 3L), // duplicates, both orientations
      (21L, 20L)) // pair
      .toDF("a", "b")
    val viaLabels = graft.queries.Graph.connectedOf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (lss, _) = graft.queries.Graph.connectedLssOf(edges)
    val viaStars = lss.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(viaStars === viaLabels)
  }

  test("large-star/small-star converges in O(log n) rounds on a 1000-node chain") {
    // THE case the star engine exists for: min-label propagation needs
    // diameter rounds (999 here — past its cap), star contraction
    // flattens the chain geometrically. Bound: 2·ceil(log2 n) + 2
    // alternating rounds.
    import ss.implicits._
    val chain = (1L until 1000L).map(i => (i, i + 1)).toDF("a", "b")
    val (out, rounds) = graft.queries.Graph.connectedLssOf(chain)
    val rows = out.collect()
    assert(rows.length === 1)
    assert(rows.head.getLong(0) === 1L) // component id = min node
    assert(rows.head.getLong(1) === 1000L)
    assert(rows.head.getLong(2) === 1000L)
    val bound = 2 * (math.ceil(math.log(1000.0) / math.log(2.0)).toInt) + 2
    assert(rounds <= bound, s"$rounds rounds exceeds the O(log n) bound $bound")
  }

  test("scale guard: above the node cap CC, BFS and HITS fall back, results identical") {
    // the broadcast-node-state round shape has a hard ceiling (the
    // per-round broadcast rebuilds on the driver); the thresholded
    // dispatch must swap engines WITHOUT changing a single output bit.
    // Force the fallback with a 2-node cap on the same fixtures the
    // broadcast shape is proven on.
    import ss.implicits._
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L), (4L, 5L), // chain 1-2-3-4-5
      (10L, 11L), (11L, 12L), (12L, 10L), (12L, 13L), // triangle + tail
      (21L, 20L)) // pair
      .toDF("a", "b")

    // CC: broadcast min-label rounds vs the LSS-shuffle fallback
    val ccBroadcast = graft.queries.Graph.connectedOf(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ccFallback = graft.queries.Graph.connectedOf(edges, maxBroadcastNodes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(ccFallback === ccBroadcast)

    // BFS: hop digests identical under both round shapes
    val bfsBroadcast = graft.queries.Graph.bfsOf(edges, Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val bfsFallback = graft.queries.Graph.bfsOf(edges, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bfsFallback.toSeq === bfsBroadcast.toSeq)

    // HITS: the matvec sums are exact fixed point (order-free), so the
    // shuffle fallback is BIT-identical, not just approximately equal
    val bip = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L))
      .toDF("cust", "supp")
    val hitsBroadcast = graft.queries.Graph.hitsOf(bip, Long.MaxValue)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val hitsFallback = graft.queries.Graph.hitsOf(bip, 0L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(hitsFallback.toSeq === hitsBroadcast.toSeq)
  }

  test("modularity equals a brute recompute over collected edges and labels") {
    val r = Graph.modularity(spark, sf).collect()
    assert(r.length === 1)
    val q = r.head.getAs[Double]("modularity")
    assert(q >= -0.5 && q <= 1.0, s"modularity out of range: $q")
    val edges = Graph.coEdges(spark, sf).collect()
      .map(x => (x.getAs[Long]("a"), x.getAs[Long]("b")))
    val labels = Graph.labelProp(spark, sf).collect()
      .map(x => x.getAs[Long]("node") -> x.getAs[Long]("label")).toMap
    val m = edges.length.toDouble
    val deg = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    val ec = edges.filter { case (a, b) => labels(a) == labels(b) }
      .groupBy { case (a, _) => labels(a) }.view.mapValues(_.length.toLong).toMap
    val dc = deg.toSeq.groupBy { case (n, _) => labels(n) }
      .view.mapValues(_.map(_._2).sum).toMap
    val brute = dc.keys.toSeq.map { c =>
      math.round((ec.getOrElse(c, 0L).toDouble / m -
        (dc(c).toDouble / (2.0 * m)) * (dc(c).toDouble / (2.0 * m))) * 1e12)
    }.sum / 1e12
    assert(math.abs(q - brute) < 1e-12, s"$q vs brute $brute")
    assert(r.head.getAs[Long]("n_communities") === dc.size.toLong)
  }

  test("assortativity equals a brute Pearson over collected edge endpoints") {
    val r = Graph.assortativity(spark, sf).collect()
    assert(r.length === 1)
    val edges = Graph.coEdges(spark, sf).collect()
      .map(x => (x.getAs[Long]("a"), x.getAs[Long]("b")))
    assert(r.head.getAs[Long]("n_edges") === edges.length.toLong)
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    // directed endpoints: both orientations of every undirected edge
    val pts = edges.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = pts.length.toDouble
    val sx = pts.map(_._1).sum.toDouble
    val sxy = pts.map(p => p._1 * p._2).sum.toDouble
    val sxx = pts.map(p => p._1 * p._1).sum.toDouble
    val brute = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    val got = r.head.getAs[Double]("assortativity")
    assert(math.abs(got - brute) < 1e-9, s"$got vs brute $brute")
    assert(got >= -1.0 - 1e-12 && got <= 1.0 + 1e-12)
  }

  test("sampled closeness is inside the Eppstein-Wang envelope of exact all-pairs BFS") {
    import graft.queries.Graph
    // exact all-pairs BFS on the sf0.001 fixture (~200 nodes), driver-
    // side and fully independent of the estimator's Spark code path
    val edges = Graph.coEdges(spark, sf).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
      .withDefaultValue(Nil)
    edges.foreach { case (a, b) =>
      adj(a) = b :: adj(a); adj(b) = a :: adj(b)
    }
    val nodes = adj.keys.toSeq.sorted
    val maxHops = 6 // the operator's hop cap (Graph.MaxHops)
    def bfs(s0: Long): Map[Long, Int] = {
      val dist = scala.collection.mutable.Map(s0 -> 0)
      var frontier = List(s0)
      var d = 0
      while (frontier.nonEmpty && d < maxHops) {
        d += 1
        frontier = frontier.flatMap(adj).distinct.filterNot(dist.contains)
        frontier.foreach(v => dist(v) = d)
      }
      (dist - s0).toMap
    }
    val exact = nodes.map(v => v -> bfs(v)).toMap
    val delta = exact.values.flatMap(_.values).max.toDouble // capped diameter
    val exactMean = exact.collect { case (v, ds) if ds.nonEmpty =>
      v -> ds.values.sum.toDouble / ds.size
    }
    val got = Graph.closeness(spark, sf).collect()
      .map(r => r.getAs[Long]("node") ->
        (r.getAs[Long]("sum_dist").toDouble / r.getAs[Long]("n_src_reached")))
      .toMap
    assert(got.nonEmpty)
    // documented envelope (scaladoc on q_gr_closeness): per-node
    // Hoeffding at k=4 sources, 95% confidence ->
    // eps = sqrt(ln(2/0.05) / (2k)) ~ 0.680 of the hop-capped diameter,
    // allowing <= 5% of nodes outside (p95 assertion)
    val eps = math.sqrt(math.log(2.0 / 0.05) / (2.0 * 4)) * delta
    val gaps = got.toSeq
      .flatMap { case (v, hat) => exactMean.get(v).map(a => math.abs(hat - a)) }
      .sorted
    assert(gaps.nonEmpty)
    val p95 = gaps(math.min((gaps.size * 95) / 100, gaps.size - 1))
    assert(p95 <= eps, s"p95 gap $p95 exceeds the documented envelope $eps " +
      s"(capped diameter $delta)")
    assert(gaps.last <= delta,
      s"max gap ${gaps.last} exceeds the capped diameter $delta")
  }

  test("triangle key packing guard fires loudly past 2^31 node ids") {
    import ss.implicits._
    // the wedge stream packs (dst, w) into one long (dst*2^32 + w) —
    // injective only below 2^31; a key-domain change must fail loudly,
    // never silently collide packed keys into phantom triangles
    val big = (1L << 31) + 7L
    val bad = Seq((1L, big), (1L, 2L), (2L, big)).toDF("a", "b")
    val err = intercept[IllegalArgumentException] {
      graft.queries.Graph.triangleCountsOf(bad).collect()
    }
    assert(err.getMessage.contains("2^31"), err.getMessage)
    // under the bound the same shape counts its one triangle per node
    val ok = graft.queries.Graph.triangleCountsOf(
      Seq((1L, 3L), (1L, 2L), (2L, 3L)).toDF("a", "b")).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("n_triangles"))).toSet
    assert(ok === Set((1L, 1L), (2L, 1L), (3L, 1L)))
  }

  test("connected-components round cap fires loudly when eccentricity exceeds it") {
    import ss.implicits._
    // min-label propagation moves one hop per round, so a 53-node path
    // (eccentricity 52 from the min end) exhausts CcMaxRounds=50 with
    // labels still moving - the guard must throw with the raise-the-cap
    // message, never return a silently wrong partition
    val chain = (1L to 52L).map(i => (i, i + 1)).toDF("a", "b")
    val err = intercept[IllegalArgumentException] {
      graft.queries.Graph.connectedOf(chain).collect()
    }
    assert(err.getMessage.contains("raise CcMaxRounds"), err.getMessage)
    // a 40-node path (under the cap) converges to one component
    val ok = graft.queries.Graph.connectedOf(
      (1L to 39L).map(i => (i, i + 1)).toDF("a", "b")).collect()
    assert(ok.length === 1 && ok.head.getAs[Long]("n_nodes") === 40L)
  }
}
