package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication operators over the `documents` table — the core of a
  * training-data pipeline: exact hash dedup, n-gram Jaccard, MinHash+LSH,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle on a 32-byte digest — the minimum
  *    possible movement (never shuffle the document bodies; project to
  *    (digest, doc_id) first).
  *  - Candidate generation (LSH bands / shared shingles) turns the O(n²)
  *    all-pairs problem into an equi-join on band keys — a shuffle join
  *    whose fan-out is bounded by bucket sizes, the standard web-scale
  *    minhash layout (one row per (band, key)).
  *  - Verification joins fetch shingle sets only for candidate pairs
  *    (semi-join pruning), never for the full corpus cross product.
  *  - The only all-pairs operator is embedding near-dup, kept as the
  *    correctness baseline; its scale path is Similarity.ivfTopK's
  *    bucketed variant.
  *
  * All hashes derive from md5 (see [[Hashes]]) so DuckDB replays them
  * exactly; divisions are int→double with identical operands, and
  * therefore bit-identical.
  */
object Dedup {

  import Text._

  /** All ordered pairs (da < db) from a bucket's member list — the
    * group-collect-explode replacement for LSH candidate self-joins. The
    * nested transform is fine here: bucket lists are small by LSH design
    * and every free reference in the lambdas is a bound attribute. */
  private[queries] def pairsOf(ds: Column): Column =
    filter(
      flatten(transform(ds, a => transform(ds, b => struct(a.as("da"), b.as("db"))))),
      p => p.getField("da") < p.getField("db"))

  /** [[pairsOf]] emitting the PACKED pair key da*2^32+db — the
    * triangleCountsOf / prefix-join key-packing discipline applied at
    * the bucket explode: one 8-byte key instead of two longs on every
    * pair-grain shuffle row. Injective only while ids fit 31 bits;
    * unlike the prefix join there is no bounded aggregate on this path
    * to hang a driver-side require off (the staged group lists are the
    * FIRST thing the query reads), so the guard lives IN the expression:
    * an out-of-range id raises at scan time instead of silently
    * colliding pairs. Two comparisons per pair, same whole-stage
    * codegen as the transform itself. */
  private[queries] def packedPairsOf(ds: Column): Column =
    transform(pairsOf(ds), p => packPairKey(p.getField("da"), p.getField("db")))

  /** da*2^32+db with the loud in-expression 31-bit range guard (see
    * [[packedPairsOf]]). Unpack with `pk DIV 2^32` / `pk % 2^32` —
    * exact for the guarded non-negative range. */
  private[queries] def packPairKey(da: Column, db: Column): Column =
    when(da >= 0 && da < lit(1L << 31) && db >= 0 && db < lit(1L << 31),
      da * lit(1L << 32) + db)
      .otherwise(raise_error(concat(
        lit("pair packing requires ids in [0, 2^31): got ("),
        da.cast("string"), lit(", "), db.cast("string"), lit(")"))))

  /** The two halves of a [[packPairKey]] key, aliased (da, db).
    * shiftright, not division: integer, exact, and codegen — a double
    * divide would lose bits past 2^53. */
  private[queries] def unpackPairKey(pk: Column): Seq[Column] =
    Seq(shiftright(pk, 32).as("da"), (pk % lit(1L << 32)).as("db"))

  // --- q_dd_exact ---------------------------------------------------------
  // Exact content dedup: group by md5(text); keeper = min doc_id (the
  // reference's last-write-wins analog for immutable corpora).
  def exact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper"))
      .orderBy("content_hash")

  val exactSql: String =
    """SELECT md5(text) AS content_hash, COUNT(*) AS n_copies, MIN(doc_id) AS keeper
      |FROM documents
      |GROUP BY md5(text)
      |ORDER BY content_hash""".stripMargin

  // --- q_dd_novelty ---------------------------------------------------------
  // CORPUS NOVELTY per document — the share of a doc's distinct
  // 3-shingles that first appear IN that doc (minimum doc_id over the
  // corpus), the curve a crawl audit reads to see marginal value decay:
  // late documents in a template-heavy source contribute almost nothing
  // new. This is the dedup family's "soft" screen — exact dedup asks
  // "is it identical", near-dup asks "is it close to ONE other doc",
  // novelty asks "how much of it exists ANYWHERE earlier". One
  // shingle-grain min aggregation + one join back to the staged shingle
  // table (the same materialization every dedup analytic reads); the
  // per-doc reduction is map-side combinable. Scale: shingle-grain —
  // the corpus's own dedup shuffle, nothing new.
  def novelty(s: SparkSession, d: String): DataFrame = {
    val sh = Text.shingleRows(s, d)
    val firstDoc = sh.groupBy("s").agg(min(col("doc_id")).as("fd"))
    sh.join(firstDoc, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("fd") === col("doc_id"), 1L).otherwise(0L)).as("novel"))
      .select(col("doc_id"), col("n_shingles"), col("novel"),
        (col("novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy("doc_id")
  }

  lazy val noveltySql: String =
    s"""WITH sh AS MATERIALIZED (${Text.shingleSetsSql}),
       |ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |fd AS MATERIALIZED (
       |  SELECT s, min(doc_id) AS fd FROM ex GROUP BY s)
       |SELECT e.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS novel,
       |  CAST(sum(CASE WHEN f.fd = e.doc_id THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
       |    / CAST(count(*) AS BIGINT)::DOUBLE AS novelty
       |FROM ex e JOIN fd f USING (s)
       |GROUP BY e.doc_id
       |ORDER BY e.doc_id""".stripMargin

  // --- q_dd_ngram_jaccard -------------------------------------------------
  // 3-word-shingle Jaccard near-dup: candidate pairs share >=1 RARE
  // shingle (doc-freq <= MaxShingleDf); the exact intersection is
  // assembled as common_rare + common_hot, both as codegen'd counting
  // aggregates — never per-pair set math, never a candidate fan-out over
  // full shingle sets (an earlier verify join multiplied every candidate
  // pair by ALL of its left doc's shingles: ~59M intermediate rows and
  // 12+ s at sf0.1 for the same answer this shape gets in ~1 s).
  //
  // The doc-freq cap is the 100 TB guard: a web corpus has stop-shingles
  // ("of the and" …) with 10^6+ doc-freq — one uncapped group OOMs its
  // executor and contributes O(df²) garbage pairs. Shingles above the cap
  // carry ~zero near-dup signal (they are corpus-wide), so dropping them
  // for CANDIDATE GENERATION only costs pairs whose every shared shingle
  // is a stop-shingle — which a jaccard >= 0.5 pair essentially cannot
  // be. Hot shingles still count toward surviving pairs' exact jaccard
  // via the bounded common_hot join. (Property-tested: a planted 150-doc
  // stop-shingle generates zero pairs; rare-shingle dups are still
  // found.)
  private[queries] val MaxShingleDf = 100

  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    // Materialize the (doc_id, shingle) rows once: the doc-freq pass,
    // both pair paths, and the per-doc sizes all reuse them, and Spark
    // has no automatic CTE materialization — without this the
    // explode+window+distinct pipeline would execute four times. On a
    // cluster this is persist-to-storage of the shingle table (what a
    // real pipeline stages anyway); locally localCheckpoint pins it.
    val ex = shingleRows(s, d) // staged table: no checkpoint needed
    // The bounded-collect classification of every shingle (rare groups
    // = COMPLETE doc lists, size cap+1 = hot overflow marker) is the
    // staged [[shingleGroups]] table — built once per substrate, read
    // here and by the containment join and the S-curve audit.
    val groups = shingleGroups(s, d)
    // The HOT side (df > cap) is a handful of DISTINCT values by
    // definition, so it broadcasts; `ex` never shuffles for the split.
    val hotS = groups.filter(size(col("ds")) > MaxShingleDf).select("s")
    // |A∩B| over RARE shingles, straight off the pair stream: every rare
    // group is complete and cap-bounded, and counting pair occurrences
    // IS the rare-intersection size — no distinct, no re-join, no
    // per-pair set math. The keys of this aggregate are exactly the
    // candidate pairs (share >= 1 rare shingle); work is <= (cap-1) rows
    // out per shingle row in.
    // Pair-grain aggregations key on the PACKED da*2^32+db long (the
    // prefix-join discipline; in-expression 31-bit guard — see
    // packedPairsOf): one 8-byte key instead of two on the dominant
    // exchanges of this query, and the rare/hot count digests join on
    // one long.
    val commonRare = groups
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxShingleDf)
      .select(explode(Dedup.packedPairsOf(col("ds"))).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("common_rare"))
    // Hot shingles still count toward the EXACT jaccard of surviving
    // pairs: join candidates to the hot rows only (per-doc hot-shingle
    // count is small — a doc holds at most its-length stop-shingles),
    // so the fan-out is |candidates| x hot-per-doc, never df².
    val hotEx = ex.join(broadcast(hotS), Seq("s"))
    val commonHot = commonRare.select(Dedup.unpackPairKey(col("pk")): _*)
      .join(hotEx.toDF("s", "da"), "da")
      .join(hotEx.toDF("s", "db"), Seq("db", "s"))
      .groupBy(Dedup.packPairKey(col("da"), col("db")).as("pk"))
      .agg(count(lit(1)).as("common_hot"))
    val sizes = shingleRowsByDoc(s, d) // forward twin: zero-exchange rollup
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    // Candidate-keyed joins on da/db: unhinted — AQE broadcasts the tiny
    // local sides; at corpus scale both sides are too big to broadcast
    // and these become bounded shuffle joins on the candidate set.
    commonRare
      .join(commonHot, Seq("pk"), "left")
      .select(Dedup.unpackPairKey(col("pk")) :+
        (col("common_rare") + coalesce(col("common_hot"), lit(0L))).as("common"): _*)
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .select(
        col("da").as("doc_a"), col("db").as("doc_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  val ngramJaccardSql: String =
    s"""WITH sh AS ($shingleSetsSql),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |grp AS (
       |  SELECT s FROM ex GROUP BY s
       |  HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  JOIN grp ON grp.s = a.s)
       |SELECT da AS doc_a, db AS doc_b,
       |  len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |    / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
       |FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
       |WHERE len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |    / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q_dd_containment -----------------------------------------------------
  // ASYMMETRIC CONTAINMENT near-dup — C(A→B) = |A∩B| / |A| (Broder's
  // containment, the measure behind "doc A is a near-SUBSET of doc B"):
  // a 50-shingle snippet fully embedded in a 500-shingle page scores
  // C = 1.0 but Jaccard ≈ 0.1, so the symmetric screens
  // (q_dd_ngram_jaccard and every LSH family) structurally miss it —
  // this is the operator that catches quote-farms, boilerplate
  // wrappers, and "expanded edition" training-set leaks. Candidates
  // and exact intersections reuse the SAME staged machinery as the
  // Jaccard join (one shingle scan via [[Text.shingleRows]], rare-group
  // pair counting + bounded hot-side completion — identical doc-freq
  // cap and identical recall precondition: a qualifying pair must
  // share ≥ 1 under-cap shingle); each UNORDERED candidate then fans
  // out into its two DIRECTED containments, normalized by the inner
  // doc's own shingle count. Since C(A→B) ≥ J(A,B) pointwise, the
  // τ = 0.7 screen is a strict superset of a 0.7-Jaccard one. Scale:
  // no new shuffle beyond the Jaccard plan — the direction fan-out is
  // a 2× projection of the already-bounded candidate digest.
  val ContainTau = 0.7

  def containment(s: SparkSession, d: String): DataFrame = {
    val ex = shingleRows(s, d) // staged table: no checkpoint needed
    val groups = shingleGroups(s, d) // staged substrate — see its scaladoc
    val hotS = groups.filter(size(col("ds")) > MaxShingleDf).select("s")
    // packed pair keys on the pair-grain aggregations/join — the same
    // discipline (and same code shape) as the Jaccard twin above
    val commonRare = groups
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxShingleDf)
      .select(explode(Dedup.packedPairsOf(col("ds"))).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("common_rare"))
    val hotEx = ex.join(broadcast(hotS), Seq("s"))
    val commonHot = commonRare.select(Dedup.unpackPairKey(col("pk")): _*)
      .join(hotEx.toDF("s", "da"), "da")
      .join(hotEx.toDF("s", "db"), Seq("db", "s"))
      .groupBy(Dedup.packPairKey(col("da"), col("db")).as("pk"))
      .agg(count(lit(1)).as("common_hot"))
    val sizes = shingleRowsByDoc(s, d) // forward twin: zero-exchange rollup
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    // materialized once: BOTH direction branches read it, and without
    // the pin the whole candidate/intersection join tree would execute
    // twice (measured 1.8× the Jaccard twin's cost before the pin)
    val undirected = commonRare
      .join(commonHot, Seq("pk"), "left")
      .select(Dedup.unpackPairKey(col("pk")) :+
        (col("common_rare") + coalesce(col("common_hot"), lit(0L))).as("common"): _*)
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .localCheckpoint()
    undirected
      .select(col("da").as("doc_inner"), col("db").as("doc_outer"),
        col("common"), col("na").as("n_inner"),
        (col("common").cast("double") / col("na").cast("double")).as("containment"))
      .unionAll(undirected
        .select(col("db").as("doc_inner"), col("da").as("doc_outer"),
          col("common"), col("nb").as("n_inner"),
          (col("common").cast("double") / col("nb").cast("double")).as("containment")))
      .filter(col("containment") >= ContainTau)
      .orderBy("doc_inner", "doc_outer")
  }

  val containmentSql: String =
    s"""WITH sh AS ($shingleSetsSql),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |grp AS (
       |  SELECT s FROM ex GROUP BY s
       |  HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  JOIN grp ON grp.s = a.s),
       |sized AS (
       |  SELECT da, db,
       |    len(list_intersect(x.shingles, y.shingles)) AS common,
       |    len(x.shingles) AS na, len(y.shingles) AS nb
       |  FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id),
       |directed AS (
       |  SELECT da AS doc_inner, db AS doc_outer, CAST(common AS BIGINT) AS common,
       |    CAST(na AS BIGINT) AS n_inner,
       |    common::DOUBLE / na::DOUBLE AS containment FROM sized
       |  UNION ALL
       |  SELECT db AS doc_inner, da AS doc_outer, CAST(common AS BIGINT) AS common,
       |    CAST(nb AS BIGINT) AS n_inner,
       |    common::DOUBLE / nb::DOUBLE AS containment FROM sized)
       |SELECT doc_inner, doc_outer, common, n_inner, containment
       |FROM directed WHERE containment >= $ContainTau
       |ORDER BY doc_inner, doc_outer""".stripMargin

  // --- q_dd_prefix_join -----------------------------------------------------
  // PPJoin-style PREFIX-FILTERED exact similarity join (Chaudhuri et al.
  // 2006 prefix filtering; Xiao et al. 2008 PPJoin — public): the same
  // τ = 0.5 Jaccard join as q_dd_ngram_jaccard, but candidates come from
  // a PROVABLY SUFFICIENT subset of each doc's shingles instead of all
  // rare ones. Shingles sort by a global canonical order (corpus
  // doc-freq ascending, then value — rarest first), and only each doc's
  // first ⌊n/2⌋+1 shingles (the τ-prefix, p = n − ⌈τn⌉ + 1) join:
  // J(A,B) ≥ τ forces |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉, which cannot fit in
  // the suffixes alone, so qualifying pairs MUST collide on a prefix
  // element — exact recall with ~half the candidate-generating rows,
  // and the rarest-first order makes prefix buckets the SMALLEST df
  // groups (the opposite of stop-shingle blowup). The implied length
  // filter 2·min(|A|,|B|) ≥ max(|A|,|B|) prunes cross-size candidates
  // before the verify join. Hot shingles (df > MaxShingleDf) are
  // excluded from candidate generation like every generator here but
  // still count in the exact verify.
  //
  // RECALL THEOREM (unconditional over sub-cap intersections): the
  // kept set `rk <= n DIV 2 + 1 AND df <= cap` IS the hot-extended
  // prefix — "the first p = n − ⌈τn⌉ + 1 SUB-CAP shingles in the
  // global (df, s) order, with n still counting hot members" —
  // because every hot shingle (df > cap) sorts strictly AFTER every
  // sub-cap one, so hot members can never displace a sub-cap shingle
  // from a prefix slot; they only pad the tail the df-filter drops.
  // Claim: any pair with J(A,B) ≥ τ whose intersection C contains at
  // least one sub-cap shingle collides on a prefix member. Proof:
  // J ≥ τ gives |C| ≥ ⌈τ·n_A⌉ =: t_A (and symmetrically t_B). Let c
  // be the globally smallest member of C; c is sub-cap (hot sort
  // last, and C has a sub-cap member). If c were outside A's prefix,
  // every member of C would sit at-or-after c in A's order, and A
  // holds at most (m_A − p_A) + h_A = t_A − 1 such elements (m =
  // sub-cap count, h = hot count, m + h = n) — fewer than |C|.
  // Contradiction; symmetric for B; so c is in BOTH prefixes. ∎
  // No per-document precondition: a doc may draw ANY share of its
  // shingles from the hot set (DedupSpec drives a fixture whose
  // qualifying docs are two-thirds hot and the pair is still caught).
  // The only residual class is a qualifying pair whose ENTIRE
  // intersection is hot — which forces h ≥ ⌈τn⌉ on BOTH docs — and
  // there q_dd_ngram_jaccard is identically blind (its rare-candidate
  // generation sees the same nothing), so twin equality holds on that
  // class too: both report the miss, and q_dd_cap_audit MEASURES it.
  // A corpus where that class matters should raise MaxShingleDf or
  // pre-strip boilerplate — the cap is a cost guard, not a semantic
  // knob.
  //
  // Cost shape vs q_dd_ngram_jaccard: the prefix RANK needs a doc-grain
  // window — the PPJoin literature's "index construction" phase — so it
  // is STAGED once per dataset fingerprint alongside the shingle table
  // itself ([[prefixRows]]): the ranking is a pure dataset derivation
  // (no query parameter reaches it), and at 100 TB it is written once
  // per ingest tick while every similarity query reads the
  // materialization. Query time is then candidates + verify only —
  // and candidate PAIRS are the quadratic-in-bucket term the prefix
  // bound shrinks (spec-measured), so the staged form undercuts the
  // counting formulation at every scale.
  def prefixJoin(s: SparkSession, d: String): DataFrame = {
    // NOT localCheckpointed: a checkpoint erases the staged table's
    // bucket distribution (LogicalRDD reports UnknownPartitioning) and
    // the whole point is the exchange-free self-join on s below; the
    // two consumers re-scan the 8-bucket materialization instead.
    val ex = shingleRows(s, d)
    val prefix = prefixRows(s, d)
    val cand = prefix.toDF("s", "da", "na")
      .join(prefix.toDF("s", "db", "nb"), "s")
      .filter(col("da") < col("db") &&
        least(col("na"), col("nb")) * 2 >= greatest(col("na"), col("nb")))
      .select("da", "db", "na", "nb").distinct()
      .localCheckpoint() // candidate docs + two verify arms + final join
    // Every pair-grain exchange below (the verify digests and the final
    // assembly joins) keys on the PACKED pair da*2^32+db instead of two
    // longs — the triangleCountsOf key-packing discipline: one 8-byte
    // key halves the keyed width of the biggest shuffles and makes
    // their sorts single-column. Injective only while doc ids fit 31
    // bits; assert on the bounded candidate set so a key-domain change
    // fails loudly instead of colliding pairs (one scalar off a
    // pair-grain aggregate — not a data collect).
    val maxDocRow = cand.agg(max(greatest(col("da"), col("db")))).head
    if (!maxDocRow.isNullAt(0))
      require(maxDocRow.getLong(0) < (1L << 31),
        s"prefix-join pair packing requires doc ids < 2^31; " +
          s"max id is ${maxDocRow.getLong(0)}")
    def packPair(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      a * lit(1L << 32) + b
    // verify by PAIR-COUNTING shared shingles, the ngram_jaccard
    // rare/hot split RESTRICTED to candidate docs: a per-pair join
    // against the left doc's FULL shingle list fans every candidate
    // out by its doc size (measured 21M intermediate rows at sf0.1 —
    // the shape the ngram comment warns about), whereas self-joining
    // the candidate docs' shingle rows generates only the SHARED
    // occurrences. Globally-hot shingles stay out of the self-join
    // (the df² stop-shingle guard) and count via the bounded
    // pair × hot-per-doc arm, exactly as in q_dd_ngram_jaccard. The
    // per-doc-ARRAY alternative (array_intersect per pair) moves the
    // full text payload through every exchange — measured 7× the
    // shuffle bytes at sf0.1 — and loses map-side combine.
    val cdocs = cand.select(col("da").as("doc_id"))
      .union(cand.select(col("db").as("doc_id"))).distinct()
    // cdocs is the cap-bounded candidate-doc set — STATICALLY hinted as
    // the build side: unhinted, AQE may broadcast the (smaller-looking)
    // bucketed shingle scan instead, which streams cdocs and DESTROYS
    // the scan's s-bucket distribution right before the self-join on s.
    // With cdocs built, ex's HashPartitioning(s, 8) survives the
    // broadcast join and the shared-shingle self-join plans ZERO
    // exchanges off the bucketed table.
    val exC = ex.join(broadcast(cdocs), "doc_id")
    val hotS = hotShingles(s, d)
    val exCr = exC.join(hotS, Seq("s"), "left_anti")
    val sharedRare = exCr.select(col("doc_id").as("da"), col("s"))
      .join(exCr.select(col("doc_id").as("db"), col("s")), "s")
      .filter(col("da") < col("db"))
      .select(packPair(col("da"), col("db")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("common_rare"))
    val hotExC = exC.join(broadcast(hotS), Seq("s"))
    val sharedHot = cand.select("da", "db")
      .join(hotExC.select(col("doc_id").as("da"), col("s")), "da")
      .join(hotExC.select(col("doc_id").as("db"), col("s")),
        Seq("db", "s"))
      .select(packPair(col("da"), col("db")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("common_hot"))
    // assembly joins are SHUFFLE_HASH-hinted (the triangles lesson: each
    // digest is built and probed exactly once — a sort-merge would sort
    // both pair-grain sides per join for one probe pass); build sides
    // are the count digests, bounded by the candidate-pair grain
    cand
      .select(packPair(col("da"), col("db")).as("pk"), col("na"), col("nb"))
      .join(sharedRare.hint("shuffle_hash"), Seq("pk"), "left")
      .join(sharedHot.hint("shuffle_hash"), Seq("pk"), "left")
      .withColumn("common",
        coalesce(col("common_rare"), lit(0L)) +
          coalesce(col("common_hot"), lit(0L)))
      .select(expr("pk DIV 4294967296").as("doc_a"),
        (col("pk") % lit(1L << 32)).as("doc_b"),
        (col("common").cast("double") /
          (col("na") + col("nb") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** τ = 0.5 prefix members (s, doc_id, n) with the hot cap applied —
    * staged once per dataset fingerprint (see [[prefixJoin]]'s header
    * for why this is the PPJoin index-construction phase). Clustered
    * by shingle so the candidate self-join on s reads co-located
    * buckets. Rank and set-size share ONE window sort: the size rides
    * the same (doc_id | df, s) ordering with an unbounded frame, so
    * Spark plans a single WindowExec instead of two partition sorts. */
  private def prefixRows(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tag = graft.Tables.stageTag(d)
    val root =
      s"${sys.props("java.io.tmpdir")}/graft_text_$tag/prefix_active_b3"
    // Bucketed on s like the shingle table it derives from: the
    // query-time candidate SELF-join on s — the quadratic heart of
    // PPJoin — then plans zero exchanges (the shuffle happened here,
    // once per substrate).
    graft.Stage.ensureBucketedTable(s, root, s"graft_prefix_3_$tag",
      "s STRING, doc_id BIGINT, n BIGINT", "s", 8) {
      val ex = shingleRows(s, d)
      val dfq = ex.groupBy("s").agg(count(lit(1)).as("df"))
      val wd = Window.partitionBy("doc_id").orderBy(col("df"), col("s"))
      val wn =
        wd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val pref = ex.join(dfq, "s")
        .withColumn("rk", row_number().over(wd))
        .withColumn("n", count(lit(1)).over(wn))
        .filter(col("rk") <= expr("n DIV 2 + 1") &&
          col("df") <= MaxShingleDf)
        .select(col("s"), col("doc_id"), col("n"))
      // prune JOIN-INACTIVE members: a shingle appearing in exactly
      // one prefix can never produce a candidate pair, and most
      // shingles are corpus-unique — dropping them here (where the
      // table is built once) shrinks the query-time self-join's input
      // by an order of magnitude without touching recall
      val active = pref.groupBy("s").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2).select("s")
      pref.join(active, "s")
    }
  }

  /** Globally-hot shingles (df > MaxShingleDf) — a tiny, provably
    * bounded set (each costs > cap doc rows, so there are at most
    * |shingle rows| / cap of them), staged in the same per-fingerprint
    * family so the query-time verify never re-aggregates corpus
    * doc-freqs. */
  private def hotShingles(s: SparkSession, d: String): DataFrame = {
    val tag = graft.Tables.stageTag(d)
    val root =
      s"${sys.props("java.io.tmpdir")}/graft_text_$tag/hot_shingles_3"
    graft.Stage.ensure(root) { tmp =>
      shingleRows(s, d).groupBy("s").agg(count(lit(1)).as("df"))
        .filter(col("df") > MaxShingleDf).select("s")
        .coalesce(1)
        .write.parquet(tmp)
    }
    Tables.read(s, root)
  }

  /** (s, ds array<doc_id>) — every shingle with its cap-bounded doc
    * list (complete for rare groups, truncated at cap+1 as the hot
    * overflow marker). The shared candidate-generation substrate of
    * the Jaccard join, the containment join and the S-curve audit:
    * all three previously re-ran the same shingle-grain shuffle +
    * bounded collect. Staged per dataset fingerprint like the minhash/
    * simhash signature tables — at 100 TB the ingest tick writes this
    * inverted-index materialization beside the shingle table and every
    * shingle-family analytic reads it. Safe to stage: rare groups
    * (<= cap) are COMPLETE doc lists and [[pairsOf]] is order-
    * insensitive (emits da < db regardless of array layout), while hot
    * groups participate only through their SIZE (> cap), so which
    * cap+1 members the collect kept never reaches any output. */
  private def shingleGroups(s: SparkSession, d: String): DataFrame = {
    val tag = graft.Tables.stageTag(d)
    val root =
      s"${sys.props("java.io.tmpdir")}/graft_text_$tag/shingle_groups_3_$MaxShingleDf"
    graft.Stage.ensure(root) { tmp =>
      shingleRows(s, d).groupBy("s")
        .agg(graft.functions.BoundedCollectFunctions
          .boundedCollect(col("doc_id"), MaxShingleDf + 1).as("ds"))
        .repartition(8, col("s"))
        .write.parquet(tmp)
    }
    Tables.read(s, root)
  }

  val prefixJoinSql: String =
    s"""WITH sh AS MATERIALIZED ($shingleSetsSql),
       |ex AS MATERIALIZED (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |dfq AS MATERIALIZED (SELECT s, count(*) AS df FROM ex GROUP BY s),
       |rnk AS MATERIALIZED (
       |  SELECT e.doc_id, e.s, f.df,
       |    row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.s) AS rk,
       |    count(*) OVER (PARTITION BY e.doc_id) AS n
       |  FROM ex e JOIN dfq f USING (s)),
       |pref AS MATERIALIZED (
       |  SELECT s, doc_id, n FROM rnk
       |  WHERE rk <= n // 2 + 1 AND df <= $MaxShingleDf),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, a.n AS na, b.n AS nb
       |  FROM pref a JOIN pref b ON a.s = b.s AND a.doc_id < b.doc_id
       |  WHERE 2 * least(a.n, b.n) >= greatest(a.n, b.n)),
       |com AS MATERIALIZED (
       |  SELECT c.da, c.db, count(*) AS common
       |  FROM cand c
       |  JOIN ex x ON x.doc_id = c.da
       |  JOIN ex y ON y.doc_id = c.db AND y.s = x.s
       |  GROUP BY c.da, c.db)
       |SELECT c.da AS doc_a, c.db AS doc_b,
       |  common::DOUBLE / (c.na + c.nb - common) AS jaccard
       |FROM cand c JOIN com USING (da, db)
       |WHERE common::DOUBLE / (c.na + c.nb - common) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q_dd_minhash_lsh ---------------------------------------------------
  // MinHash (16 permutations) + LSH (4 bands × 4 rows): docs colliding in
  // any band become candidates; true Jaccard >= 0.5 verifies.
  //
  // The signature is ONE md5 per distinct shingle plus 16 affine
  // permutations h_i = (a_i*h + b_i) mod p over the 31-bit prime — the
  // classic universal-hash family. Everything is flat codegen'd column
  // arithmetic with a map-side-combined groupBy(doc_id) min-aggregate:
  // no nested higher-order functions (which fall out of codegen and cost
  // ~three orders of magnitude on the per-shingle hot path — the round-1
  // version spent 2060 s here at sf0.1; this one ~2 s). At scale only
  // the band join shuffles; signatures are one scan-side aggregation.
  // MinHash parameters live with the fused native expression (the
  // single source of truth shared by the HOF twin, the relational
  // signature build, and every oracle SQL) — graft.functions.MinhashSig.
  private val NumHashes = graft.functions.MinhashSig.NumHashes
  private val Bands = 4
  private val RowsPerBand = NumHashes / Bands
  private val MinhashP = graft.functions.MinhashSig.P
  private val MinhashA: Seq[Long] = graft.functions.MinhashSig.A.toSeq
  private val MinhashB: Seq[Long] = graft.functions.MinhashSig.B.toSeq

  /** (doc_id, sig array<long>) — the relational (codegen'd, explode +
    * groupBy-min) signature build shared by the banding, the cap audit
    * and the incremental dedup's staged index. */
  // Staged like shingleRows, and for the same reason: the signature
  // table is doc-grain and consumed by the banding, the cap audit, the
  // incremental index AND the rescue paths — at 100 TB the ingest tick
  // writes it once next to the shingle table and every dedup analytic
  // reads the materialization. Values are exact integers, so the
  // parquet round-trip is bit-lossless and every oracle stays valid.
  private def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    val tag = graft.Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_text_$tag/minhash_sigs"
    graft.Stage.ensure(root) { tmp =>
      minhashSignaturesFrom(shingleRows(s, d)).repartition(8, col("doc_id"))
        .write.parquet(tmp)
    }
    Tables.read(s, root)
  }

  /** Signature build over an existing (doc_id, s) shingle stream — lets
    * callers that already staged the stream (the cap audit) reuse it
    * instead of re-scanning. */
  private def minhashSignaturesFrom(shingleStream: DataFrame): DataFrame = {
    // one md5 per (doc, distinct shingle); 16 permutations as flat columns
    val ex = shingleStream
      .select(col("doc_id"), Hashes.md5Int32(col("s")).as("h"))
    val mins = (0 until NumHashes).map(i =>
      min((col("h") * MinhashA(i) + MinhashB(i)) % MinhashP).as(s"m$i"))
    ex.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** (doc_id, band_id, band_key) rows of the minhash banding — shared by
    * [[minhashLsh]] and the cap audit so the audited buckets are BY
    * CONSTRUCTION the buckets the operator builds. */
  private def minhashBands(s: SparkSession, d: String): DataFrame =
    minhashBandsFrom(minhashSignatures(s, d))

  private def minhashBandsFrom(sig: DataFrame): DataFrame =
    sig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)),
        b => concat_ws(",", slice(col("sig"), b * RowsPerBand + 1, lit(RowsPerBand))))))
      .toDF("doc_id", "band_id", "band_key")

  /** Scan-side minhash signature of a text column — the SAME 16
    * permutations as [[minhashLsh]], computed as a pure HOF projection
    * (array_distinct ∘ shingles ∘ tokens → md5 per shingle →
    * per-permutation array_min) so a STREAM can attach it per row with
    * zero shuffle and zero state before the dedup operator (the
    * relational explode+groupBy form would be a stateful streaming
    * aggregation). NULL when the doc has no complete 3-shingle —
    * callers filter those out, matching the batch pipelines' empty-doc
    * exclusion.
    *
    * TWO STAGES on purpose: HOFs are CodegenFallback, and interpreted
    * eval has no common-subexpression elimination — a single expression
    * where all 16 `array_min(transform(hs, …))` reference the hash-array
    * SUBTREE re-tokenizes, re-shingles and re-hashes the document ~16×
    * per row (measured: the sf0.1 drain went 69 s → 10 s with the split).
    * Materializing the hash array as its own column makes the 16
    * permutations read an attribute instead — and CollapseProject keeps
    * the split (it only inlines an alias into multiple references when
    * the producing expression is cheap; this one is not). */
  private[graft] def minhashHashesCol(text: Column): Column = {
    val sh = array_distinct(shingles(tokens(text), 3))
    transform(sh, t => Hashes.md5Int32(t))
  }

  /** 16-permutation signature over a MATERIALIZED hash-array column (see
    * [[minhashHashesCol]]); NULL for an empty array. */
  private[graft] def minhashSigFromHashes(hs: Column): Column = {
    val ms = (0 until NumHashes).map(i =>
      array_min(transform(hs, h => (h * MinhashA(i) + MinhashB(i)) % MinhashP)))
    when(size(hs) > 0, concat_ws(",", ms.map(_.cast("string")): _*))
  }

  /** The production signature column: the fused native expression
    * (one compiled pass — see [[graft.functions.MinhashSig]]), fed by
    * the codegen'd `split` tokenizer. Bit-identical to
    * [[minhashSigHofCol]], which is kept as the declarative twin the
    * parity spec replays. */
  private[graft] def minhashSigCol(text: Column): Column =
    graft.functions.MinhashFunctions.minhashSig(tokens(text))

  /** The pre-fusion HOF chain (17 interpreted array passes per row) —
    * parity-spec oracle for [[minhashSigCol]], not a production path. */
  private[graft] def minhashSigHofCol(text: Column): Column =
    minhashSigFromHashes(minhashHashesCol(text))

  /** DuckDB twin of [[minhashSigCol]] over a list-of-hashes column named
    * `hs` (the caller's CTE computes `hs` from the shingle list). */
  private[graft] val minhashSigSqlOverHs: String = {
    val ms = (0 until NumHashes).map(i =>
      s"list_min(list_transform(hs, h -> (h * ${MinhashA(i)} + ${MinhashB(i)}) % $MinhashP))::VARCHAR")
    s"array_to_string([${ms.mkString(",\n      ")}], ',')"
  }

  /** Cap observability riding the PRODUCTION dedup scan (the
    * q_ds_observe pattern): a CollectMetrics node between the bucket
    * aggregate and the overflow filter counts total buckets, overflowed
    * buckets, and the largest observed bucket DURING the dedup job
    * itself — zero extra scans, where [[capAudit]] recomputes the band
    * pipelines offline to get the full histogram. bounded_collect
    * truncates at cap+1, so `size(ds) > cap` is exactly "true bucket
    * size > cap" (n_buckets/n_overflow equal the audit's — asserted in
    * DedupSpec) and max_seen saturates at cap+1 (equals
    * min(audit.max_bucket, cap+1)). At 100 TB this is how the recall
    * cost of the caps is monitored: free counters on every production
    * run, the offline audit only when a counter moves. */
  private def observeCaps(buckets: DataFrame, cap: Int,
                          capObs: Option[org.apache.spark.sql.Observation]): DataFrame =
    capObs.fold(buckets)(o => buckets.observe(o,
      count(lit(1)).as("n_buckets"),
      count(when(size(col("ds")) > cap, lit(1))).as("n_overflow"),
      coalesce(max(size(col("ds"))), lit(0)).as("max_seen")))

  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshWith(s, d, None)

  private[graft] def minhashLshWith(s: SparkSession, d: String,
      capObs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val sh = shingleSets(s, d) // relational build; empty docs already absent
    val bands = minhashBands(s, d)
    // group-collect-explode instead of a band self-join: one signature
    // build instead of two, bucket lists bounded by LSH collision design
    // PLUS the hard MaxShingleDf cap — a degenerate band key (e.g. the
    // all-identical signature of millions of boilerplate docs) would
    // otherwise explode O(df²) pairs; docs colliding with >cap others get
    // their near-dups from OTHER bands. bounded_collect enforces the cap
    // INSIDE the aggregate (O(cap) memory even for the degenerate
    // bucket); the filter then reads complete-vs-overflowed sizes.
    val cand = observeCaps(
      bands.groupBy("band_id", "band_key")
        .agg(graft.functions.BoundedCollectFunctions
          .boundedCollect(col("doc_id"), MaxShingleDf + 1).as("ds")),
      MaxShingleDf, capObs)
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxShingleDf)
      .select(explode(Dedup.pairsOf(col("ds"))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    // candidate set is tiny (LSH-bounded); broadcast it against the
    // shingle sets rather than shuffling the sets twice
    val withSets = broadcast(cand)
      .join(sh.select(col("doc_id").as("da"), col("shingles").as("sha")), "da")
      .join(sh.select(col("doc_id").as("db"), col("shingles").as("shb")), "db")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
    withSets
      .select(
        col("da").as("doc_a"), col("db").as("doc_b"),
        (col("common").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  /** CTE chain ending in `sig(doc_id, sig LIST(BIGINT))` — the oracle
    * twin of [[minhashSignatures]]. */
  private val minhashSigCte: String = {
    val minCols = (0 until NumHashes)
      .map(i => s"min((h * ${MinhashA(i)} + ${MinhashB(i)}) % $MinhashP) AS m$i")
      .mkString(",\n    ")
    val sigArr = (0 until NumHashes).map(i => s"m$i").mkString("[", ", ", "]")
    s"""sh0 AS ($shingleSetsSql),
       |sh AS (SELECT * FROM sh0 WHERE len(shingles) > 0),
       |ex AS (
       |  SELECT doc_id, ${Hashes.md5Int32Sql("t")} AS h
       |  FROM (SELECT doc_id, unnest(shingles) AS t FROM sh)),
       |sigcols AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM ex GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigArr AS sig FROM sigcols)""".stripMargin
  }

  /** CTE chain ending in `bands(doc_id, band_id, band_key)` — the oracle
    * twin of [[minhashBands]], shared by the LSH oracle and the cap-audit
    * oracle (one source of truth for the banding on the DuckDB side too). */
  private val minhashBandsCte: String =
    s"""$minhashSigCte,
       |bands AS (
       |  SELECT doc_id, b AS band_id,
       |    array_to_string(sig[b*$RowsPerBand+1 : b*$RowsPerBand+$RowsPerBand], ',') AS band_key
       |  FROM sig, unnest(generate_series(0, ${Bands - 1})) t(b))""".stripMargin

  val minhashLshSql: String = {
    s"""WITH $minhashBandsCte,
       |bsz AS (
       |  SELECT band_id, band_key FROM bands GROUP BY 1, 2
       |  HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN bsz ON bsz.band_id = a.band_id AND bsz.band_key = a.band_key)
       |SELECT da AS doc_a, db AS doc_b,
       |  len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |    / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
       |FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
       |WHERE len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |    / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- q_dd_split_leakage ---------------------------------------------------
  // Train/eval SPLIT LEAKAGE screen — the composition a training pipeline
  // actually runs: the deterministic content-hash split (the same
  // bucket rule as q_sm_split) crossed with the verified minhash
  // near-dup pairs. A near-dup pair straddling the train/val/test
  // boundary is leakage: the eval member is effectively in the training
  // set, and no per-split dedup can see it — only this cross-split
  // probe can. Reuses minhashLsh's pair generation verbatim (bands,
  // caps, jaccard >= 0.5), so the leakage report inherits the exact
  // semantics the dedup operator was verified under; the oracle reuses
  // the minhash SQL as a subquery and applies the identical split rule.
  // At 100 TB the added cost over the dedup itself is two broadcast-
  // size probes into the (tiny) verified-pair set.
  def splitLeakage(s: SparkSession, d: String): DataFrame = {
    val splitOf =
      when(Hashes.md5Int32(col("doc_id").cast("string")) % 100 < 80, "train")
        .when(Hashes.md5Int32(col("doc_id").cast("string")) % 100 < 90, "val")
        .otherwise("test")
    val splits = Tables.documents(s, d).select(col("doc_id"), splitOf.as("split"))
    minhashLsh(s, d)
      .select(col("doc_a"), col("doc_b"))
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .filter(col("split_a") =!= col("split_b"))
      .select("doc_a", "split_a", "doc_b", "split_b")
      .orderBy("doc_a", "doc_b")
  }

  val splitLeakageSql: String = {
    val h = s"${Hashes.md5Int32Sql("doc_id::VARCHAR")} % 100"
    s"""WITH pairs AS (SELECT doc_a, doc_b FROM ($minhashLshSql) q),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN $h < 80 THEN 'train'
       |         WHEN $h < 90 THEN 'val' ELSE 'test' END AS split
       |  FROM documents)
       |SELECT p.doc_a, a.split AS split_a, p.doc_b, b.split AS split_b
       |FROM pairs p
       |JOIN sp a ON p.doc_a = a.doc_id
       |JOIN sp b ON p.doc_b = b.doc_id
       |WHERE a.split <> b.split
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- q_dd_simhash -------------------------------------------------------
  // 32-bit frequency-weighted SimHash: per (doc, bit), vote +1/-1 by the
  // token hash's bit; sign of the sum sets the bit. Near-dups = pairs with
  // hamming <= 2 (planted dups land at 0-2 on this corpus). The bit
  // explosion (tokens × 32) is a scan-side flatMap.
  //
  // Candidate pairs come from LSH-banding the signature into 4×8-bit
  // prefixes (same trick as minhash): two signatures at hamming <= 2
  // differ in at most 2 of the 4 bands, so they COLLIDE in at least
  // two — banding alone is exact (recall 1.0) for this threshold, by
  // pigeonhole. At 100 TB only the banded equi-grouping shuffles; the
  // all-pairs cartesian (kept below as [[simhashAllPairs]], spec-only)
  // would be O(n²). Degenerate bands (a prefix shared by many docs)
  // are capped like every other bucket, and the CAP is part of the
  // operator's semantics: a pair whose only collisions land in
  // overflowed buckets is dropped (the recall/cost trade-off every
  // capped LSH makes), so the DuckDB oracle reproduces banding + cap
  // exactly rather than comparing against all-pairs — which diverges
  // once the corpus is big enough to overflow a bucket (seen at
  // sf0.1). DedupSpec pins banded == all-pairs on the cap-free small
  // corpus, where pigeonhole is the whole story.
  private val SimBits = 32
  private val SimBands = 4
  private val SimBandBits = SimBits / SimBands

  /** (doc_id, simhash BIGINT) signatures. */
  // Staged per substrate (see minhashSignatures): the 32-bit vote
  // aggregation explodes tokens x bits — worth paying once per ingest
  // tick, not once per consumer (banding, all-pairs spec reference,
  // rescue, cap audit all read it). Long values: bit-lossless parquet.
  private def simhashSignatures(s: SparkSession, d: String): DataFrame = {
    val tag = graft.Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_text_$tag/simhash_sigs"
    graft.Stage.ensure(root) { tmp =>
      simhashSignaturesOf(Tables.documents(s, d)).repartition(8, col("doc_id"))
        .write.parquet(tmp)
    }
    Tables.read(s, root)
  }

  private[graft] def simhashSignaturesOf(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), Hashes.md5Int32(col("t")).as("h"))
    tok
      .select(col("doc_id"), col("h"), explode(sequence(lit(0), lit(SimBits - 1))).as("b"))
      .groupBy("doc_id", "b")
      .agg(sum(when(expr("(h >> b) & 1") === 1, 1)
        .otherwise(-1)).as("vote"))
      .groupBy("doc_id")
      .agg(sum(when(col("vote") > 0, expr("shiftleft(1L, b)"))
        .otherwise(0L)).as("simhash"))
  }

  private def hammingPairs(cand: DataFrame, sh: DataFrame): DataFrame =
    broadcast(cand)
      .join(sh.toDF("doc_a", "ha"), "doc_a")
      .join(sh.toDF("doc_b", "hb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 2)
      .orderBy("doc_a", "doc_b")

  /** (doc_id, band_id, band_key) rows of the simhash prefix banding —
    * shared by [[simhash]] and the cap audit. */
  private def simhashBands(sh: DataFrame): DataFrame =
    sh.select(
      col("doc_id"),
      posexplode(array((0 until SimBands).map(b =>
        shiftright(col("simhash"), b * SimBandBits)
          .bitwiseAND(lit((1L << SimBandBits) - 1))): _*)))
      .toDF("doc_id", "band_id", "band_key")

  def simhash(s: SparkSession, d: String): DataFrame =
    simhashWith(s, d, None)

  private[graft] def simhashWith(s: SparkSession, d: String,
      capObs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val sh = simhashSignatures(s, d)
    val bands = simhashBands(sh)
    val cand = observeCaps(
      bands.groupBy("band_id", "band_key")
        .agg(graft.functions.BoundedCollectFunctions
          .boundedCollect(col("doc_id"), MaxShingleDf + 1).as("ds")),
      MaxShingleDf, capObs)
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxShingleDf)
      .select(explode(Dedup.pairsOf(col("ds"))).as("p"))
      .select(col("p.da").as("doc_a"), col("p.db").as("doc_b"))
      .distinct()
    hammingPairs(cand, sh)
  }

  /** All-pairs baseline (cartesian on the compact signature rows) — the
    * exact reference for [[simhash]]'s banded candidates, spec-asserted
    * equal; never driver-run (quadratic at scale). */
  private[graft] def simhashAllPairs(s: SparkSession, d: String): DataFrame = {
    val sh = simhashSignatures(s, d)
    val cand = sh.toDF("doc_a", "ha").crossJoin(sh.toDF("doc_b", "hb"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    hammingPairs(cand, sh)
  }

  // The oracle reproduces the banded-capped candidate generation
  // EXACTLY (band keys, bucket cap, distinct pairs) like the minhash
  // oracle does — an all-pairs oracle only agrees while no band bucket
  // exceeds the cap (true at sf0.01, false at sf0.1 where popular
  // 8-bit prefixes overflow 100 members and drop their pairs): the cap
  // is part of the operator's scale semantics, so it is part of the
  // verified contract. DedupSpec still pins banded == all-pairs on the
  // cap-free small corpus, which is where the pigeonhole argument is
  // the whole story.
  /** CTE chain ending in `bands(doc_id, band_id, band_key)` — the oracle
    * twin of [[simhashBands]] (also defines `sh(doc_id, simhash)`). */
  private val simhashBandsCte: String =
    s"""tok AS (
       |  SELECT doc_id, unnest($tokensSqlExpr) AS t FROM documents),
       |th AS (SELECT doc_id, ${Hashes.md5Int32Sql("t")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM th, unnest(generate_series(0, ${SimBits - 1})) g(b)
       |  GROUP BY doc_id, b),
       |sh AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN vote > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
       |  FROM bits GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b AS band_id,
       |    (simhash >> (b * $SimBandBits)) & ${(1L << SimBandBits) - 1} AS band_key
       |  FROM sh, unnest(generate_series(0, ${SimBands - 1})) t(b))""".stripMargin

  val simhashSql: String =
    s"""WITH $simhashBandsCte,
       |bsz AS (
       |  SELECT band_id, band_key FROM bands GROUP BY 1, 2
       |  HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN bsz ON bsz.band_id = a.band_id AND bsz.band_key = a.band_key)
       |SELECT da AS doc_a, db AS doc_b,
       |  bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
       |FROM cand JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q_dd_minhash_rescue / q_dd_simhash_rescue ------------------------------
  // THE ADAPTIVE-CAP ESCAPE (round-14 verdict item 4): q_dd_cap_audit
  // MEASURES what the hot-bucket cap drops; this operator RECOVERS it.
  // Two-level banding: buckets over the production band keys that
  // exceed the cap escalate their FULL membership to a re-banding with
  // WIDER keys (2× the rows/bits per band from the SAME signature —
  // collision probability s^(2r) instead of s^r), which splits a
  // bucket made hot by many MODERATELY-similar members into small
  // genuinely-near-dup groups the cap admits. The output is exactly
  // the verified pairs the capped operator MISSES (level-2 candidates
  // minus level-1's complete-bucket pairs, then the same
  // jaccard/hamming verification) — at sf0.1 the simhash path recovers
  // 4,777 hamming<=2 pairs the 45 hot 8-bit buckets drop (the minhash
  // path's buckets never exceed 4 members on this corpus, so its
  // rescue is structurally empty here; DedupSpec plants the hot
  // cluster that exercises it). A bucket that is STILL hot under wide
  // keys is an identical-signature cluster — wider bands cannot split
  // what has no distinguishing rows; that class stays dropped by
  // design and q_dd_cluster_keeper (representative linking) is its
  // production answer. Scale: the escalated set is cap-audit-bounded
  // (docs_affected), hot keys broadcast, and level 2 repeats the
  // bucket-grain shuffle on that small subset only — the rescue costs
  // one extra pass over the overflow, never over the corpus.

  /** Generic two-level escape over (doc_id, band_id, band_key) frames:
    * returns the (da, db) candidates found by wide-key re-banding of
    * hot-bucket members that the level-1 complete buckets do NOT
    * already produce. */
  private[graft] def rescueCandidates(bands1: DataFrame, bands2: DataFrame,
                                      cap: Int,
                                      rescObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val bc = graft.functions.BoundedCollectFunctions.boundedCollect _
    val b1 = bands1.toDF("doc_id", "band_id", "band_key")
    val g1 = b1.groupBy("band_id", "band_key")
      .agg(bc(col("doc_id"), cap + 1).as("ds"))
      .localCheckpoint() // consumed twice: base pairs + hot keys
    val basePairs = g1.filter(size(col("ds")) > 1 && size(col("ds")) <= cap)
      .select(explode(pairsOf(col("ds"))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    // bounded_collect truncates hot buckets at cap+1, so membership
    // must come from re-joining the band frame on the hot KEYS (few,
    // broadcast) — never from the truncated collect
    val hotKeys = g1.filter(size(col("ds")) > cap).select("band_id", "band_key")
    val escalated0 = b1.join(broadcast(hotKeys), Seq("band_id", "band_key"))
      .select("doc_id").distinct()
    // free counters on every production run (the observeCaps pattern):
    // how much membership escaped to level 2 this tick
    val escalated = rescObs.fold(escalated0)(o => escalated0.observe(o,
      count(lit(1)).as("n_escalated_docs")))
    val cand2 = bands2.toDF("doc_id", "band_id", "band_key")
      .join(escalated, Seq("doc_id"))
      .groupBy("band_id", "band_key")
      .agg(bc(col("doc_id"), cap + 1).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= cap)
      .select(explode(pairsOf(col("ds"))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    cand2.join(basePairs, Seq("da", "db"), "left_anti")
  }

  /** Wide minhash banding: 2 bands x 8 signature rows (vs the
    * production 4 x 4) — same signature, squared selectivity. */
  private def minhashWideBandsFrom(sig: DataFrame): DataFrame = {
    val wideRows = RowsPerBand * 2
    sig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands / 2 - 1)),
        b => concat_ws(",", slice(col("sig"), b * wideRows + 1, lit(wideRows))))))
      .toDF("doc_id", "band_id", "band_key")
  }

  /** Wide simhash banding: 2 bands x 16 bits (vs the production 4 x 8). */
  private def simhashWideBands(sh: DataFrame): DataFrame = {
    val wideBits = SimBandBits * 2
    sh.select(
      col("doc_id"),
      posexplode(array((0 until SimBands / 2).map(b =>
        shiftright(col("simhash"), b * wideBits)
          .bitwiseAND(lit((1L << wideBits) - 1))): _*)))
      .toDF("doc_id", "band_id", "band_key")
  }

  /** Rescue over an explicit shingle stream + sets with a caller cap —
    * the spec drives this with a planted hot cluster. */
  private[graft] def minhashRescueFrom(shingleStream: DataFrame,
                                       sets: DataFrame, cap: Int,
                                       rescObs: Option[org.apache.spark.sql.Observation] = None): DataFrame =
    minhashRescueWithSig(
      minhashSignaturesFrom(shingleStream), sets, cap, rescObs)

  /** Rescue body over a prebuilt signature frame — the production entry
    * feeds the STAGED signature table here instead of re-deriving. */
  private[graft] def minhashRescueWithSig(sigIn: DataFrame,
                                          sets: DataFrame, cap: Int,
                                          rescObs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val sig = sigIn.localCheckpoint()
    val resc = rescueCandidates(
      minhashBandsFrom(sig), minhashWideBandsFrom(sig), cap, rescObs)
    broadcast(resc)
      .join(sets.select(col("doc_id").as("da"), col("shingles").as("sha")), "da")
      .join(sets.select(col("doc_id").as("db"), col("shingles").as("shb")), "db")
      .withColumn("common", size(array_intersect(col("sha"), col("shb"))))
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        (col("common").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  def minhashRescue(s: SparkSession, d: String): DataFrame =
    minhashRescueWithSig(minhashSignatures(s, d), shingleSets(s, d), MaxShingleDf)

  private[graft] def simhashRescueOver(docs: DataFrame, cap: Int): DataFrame =
    simhashRescueWithSig(simhashSignaturesOf(docs), cap)

  private[graft] def simhashRescueWithSig(sigIn: DataFrame, cap: Int): DataFrame = {
    val sh = sigIn.localCheckpoint() // bands + wide + verify
    val resc = rescueCandidates(simhashBands(sh), simhashWideBands(sh), cap)
    hammingPairs(resc.select(col("da").as("doc_a"), col("db").as("doc_b")), sh)
  }

  def simhashRescue(s: SparkSession, d: String): DataFrame =
    simhashRescueWithSig(simhashSignatures(s, d), MaxShingleDf)

  lazy val minhashRescueSql: String = {
    val wideRows = RowsPerBand * 2
    s"""WITH $minhashBandsCte,
       |bsz AS MATERIALIZED (
       |  SELECT band_id, band_key, count(*) AS n FROM bands GROUP BY 1, 2),
       |hot AS (SELECT band_id, band_key FROM bsz WHERE n > $MaxShingleDf),
       |esc AS (SELECT DISTINCT bands.doc_id
       |        FROM bands JOIN hot USING (band_id, band_key)),
       |wide AS MATERIALIZED (
       |  SELECT sig.doc_id, b AS band_id,
       |    array_to_string(sig[b*$wideRows+1 : b*$wideRows+$wideRows], ',') AS band_key
       |  FROM sig JOIN esc USING (doc_id),
       |       unnest(generate_series(0, ${Bands / 2 - 1})) t(b)),
       |wok AS (SELECT band_id, band_key FROM wide GROUP BY 1, 2
       |        HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |cand2 AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM wide a JOIN wide b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN wok ON wok.band_id = a.band_id AND wok.band_key = a.band_key),
       |bok AS (SELECT band_id, band_key FROM bsz
       |        WHERE n > 1 AND n <= $MaxShingleDf),
       |cand1 AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN bok ON bok.band_id = a.band_id AND bok.band_key = a.band_key),
       |resc AS (SELECT da, db FROM cand2 EXCEPT SELECT da, db FROM cand1)
       |SELECT da AS doc_a, db AS doc_b,
       |  len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |    / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) AS jaccard
       |FROM resc JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
       |WHERE len(list_intersect(x.shingles, y.shingles))::DOUBLE
       |    / (len(x.shingles) + len(y.shingles) - len(list_intersect(x.shingles, y.shingles))) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  lazy val simhashRescueSql: String = {
    val wideBits = SimBandBits * 2
    s"""WITH $simhashBandsCte,
       |bsz AS MATERIALIZED (
       |  SELECT band_id, band_key, count(*) AS n FROM bands GROUP BY 1, 2),
       |hot AS (SELECT band_id, band_key FROM bsz WHERE n > $MaxShingleDf),
       |esc AS (SELECT DISTINCT bands.doc_id
       |        FROM bands JOIN hot USING (band_id, band_key)),
       |wide AS MATERIALIZED (
       |  SELECT sh.doc_id, b AS band_id,
       |    (simhash >> (b * $wideBits)) & ${(1L << wideBits) - 1} AS band_key
       |  FROM sh JOIN esc USING (doc_id),
       |       unnest(generate_series(0, ${SimBands / 2 - 1})) t(b)),
       |wok AS (SELECT band_id, band_key FROM wide GROUP BY 1, 2
       |        HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |cand2 AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM wide a JOIN wide b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN wok ON wok.band_id = a.band_id AND wok.band_key = a.band_key),
       |bok AS (SELECT band_id, band_key FROM bsz
       |        WHERE n > 1 AND n <= $MaxShingleDf),
       |cand1 AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN bok ON bok.band_id = a.band_id AND bok.band_key = a.band_key),
       |resc AS (SELECT da, db FROM cand2 EXCEPT SELECT da, db FROM cand1)
       |SELECT da AS doc_a, db AS doc_b,
       |  bit_count(xor(x.simhash, y.simhash))::BIGINT AS hamming
       |FROM resc JOIN sh x ON da = x.doc_id JOIN sh y ON db = y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= 2
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- q_dd_embed_neardup -------------------------------------------------
  // Embedding-cosine near-dup, brute force (the exact baseline; the ANN
  // path is Similarity.ivfTopK). Sequential-fold dot products keep the
  // double math bit-identical across engines.
  def embedNearDup(s: SparkSession, d: String): DataFrame = {
    // Bounded key range: the all-pairs scan is the exact baseline, so its
    // cost must not grow quadratically with SF. The ANN path (IVF/LSH)
    // is the unbounded-scale variant.
    val e = Tables.embeddings(s, d)
      .filter(col("vec_id") < 1000)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.toDF("doc_a", "va")
    val b = e.toDF("doc_b", "vb")
    a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        Vectors.cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy("doc_a", "doc_b")
  }

  val embedNearDupSql: String =
    s"""SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
       |  ${Vectors.cosineSql("a.embedding", "b.embedding")} AS cosine
       |FROM (SELECT * FROM embeddings WHERE vec_id < 1000) a
       |JOIN (SELECT * FROM embeddings WHERE vec_id < 1000) b ON a.vec_id < b.vec_id
       |WHERE ${Vectors.cosineSql("a.embedding", "b.embedding")} >= 0.45
       |ORDER BY doc_a, doc_b""".stripMargin

  // --- q_dd_embed_lsh -----------------------------------------------------
  // Random-hyperplane LSH over the embedding column — the SCALE path for
  // embedding near-dup (embedNearDup's all-pairs scan is the bounded
  // correctness baseline). 16 sign bits from fixed ±1 hyperplanes, banded
  // 4 bands × 4 bits: vectors sharing any band become candidates; exact cosine >= 0.45
  // verifies. The hyperplane weights are computed ONCE in Scala (md5
  // parity per (plane, dim)) and embedded as literals in BOTH engines'
  // plans, and every dot product is the codegen'd sequential-fold
  // expression — bit-identical signatures, no per-row hashing at all.
  // 4 bands × 4 bits measured on this corpus: recall 8/14 true pairs at
  // ~23% candidate rate (2×8 found 0/14 — too selective for these random
  // clusters). The bands/rows knob trades verify cost for recall exactly
  // like the minhash geometry.
  private val NumPlanes = 16
  private val PlaneBands = 4
  private val PlaneBits = NumPlanes / PlaneBands
  private val EmbedDim = 64
  private[queries] val MaxEmbedBucket = 1000

  /** ±1.0 weight vector of hyperplane `p`, derived from md5 parity —
    * deterministic, engine-independent (computed in the JVM, embedded as
    * literals). */
  private[queries] def planeWeights(p: Int): IndexedSeq[Double] =
    (0 until EmbedDim).map { i =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      if (java.lang.Long.parseLong(hex.take(8), 16) % 2 == 0) 1.0 else -1.0
    }

  /** (vec_id, band_id, band_key) rows of the hyperplane sign-bit banding
    * — shared by [[embedLsh]] and the cap audit. */
  private def embedBands(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bits = (0 until NumPlanes).map { p =>
      val w = array(planeWeights(p).map(lit): _*)
      when(Vectors.dot(col("v"), w) >= 0, lit("1")).otherwise(lit("0"))
    }
    val sig = e.select(col("vec_id"), concat(bits: _*).as("sig"))
    sig.select(
      col("vec_id"),
      posexplode(array((0 until PlaneBands).map(b =>
        substring(col("sig"), b * PlaneBits + 1, PlaneBits)): _*)))
      .toDF("vec_id", "band_id", "band_key")
  }

  def embedLsh(s: SparkSession, d: String): DataFrame =
    embedLshWith(s, d, None)

  private[graft] def embedLshWith(s: SparkSession, d: String,
      capObs: Option[org.apache.spark.sql.Observation]): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bands = embedBands(s, d)
    // bucket cap like every other LSH path — generous (1000 vs the
    // shingle paths' 100) because 4-bit band keys make buckets ~n/16
    // by design and the verify cosine is cheap; the structural point is
    // that a degenerate bucket (all-identical embeddings) costs O(cap)
    // memory and O(cap²) pairs, never O(n²). The oracle models the cap
    // identically. At larger corpora the geometry knob (more planes,
    // wider bands) moves before the cap does.
    val cand = observeCaps(
      bands.groupBy("band_id", "band_key")
        .agg(graft.functions.BoundedCollectFunctions
          .boundedCollect(col("vec_id"), MaxEmbedBucket + 1).as("ds")),
      MaxEmbedBucket, capObs)
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxEmbedBucket)
      .select(explode(Dedup.pairsOf(col("ds"))).as("p"))
      .select(col("p.da").as("da"), col("p.db").as("db"))
      .distinct()
    broadcast(cand)
      .join(e.select(col("vec_id").as("da"), col("v").as("va")), "da")
      .join(e.select(col("vec_id").as("db"), col("v").as("vb")), "db")
      .select(col("da").as("doc_a"), col("db").as("doc_b"),
        Vectors.cosine(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= 0.45)
      .orderBy("doc_a", "doc_b")
  }

  /** CTE chain ending in `bands(vec_id, band_id, band_key)` — the oracle
    * twin of [[embedBands]] (also defines `e(vec_id, embedding)`). */
  private val embedBandsCte: String = {
    def wLit(p: Int): String =
      planeWeights(p).map(w => if (w > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
    val bitExprs = (0 until NumPlanes).map { p =>
      s"(CASE WHEN ${Vectors.dotSql("embedding", wLit(p))} >= 0 THEN '1' ELSE '0' END)"
    }.mkString(" || ")
    s"""e AS (SELECT vec_id, embedding FROM embeddings),
       |sig AS (SELECT vec_id, $bitExprs AS sig FROM e),
       |bands AS (
       |  SELECT vec_id, b AS band_id,
       |    sig[b*$PlaneBits+1 : b*$PlaneBits+$PlaneBits] AS band_key
       |  FROM sig, unnest(generate_series(0, ${PlaneBands - 1})) t(b))""".stripMargin
  }

  val embedLshSql: String = {
    s"""WITH $embedBandsCte,
       |bsz AS (
       |  SELECT band_id, band_key FROM bands GROUP BY 1, 2
       |  HAVING count(*) > 1 AND count(*) <= $MaxEmbedBucket),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS da, b.vec_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.vec_id < b.vec_id
       |  JOIN bsz ON bsz.band_id = a.band_id AND bsz.band_key = a.band_key)
       |SELECT da AS doc_a, db AS doc_b,
       |  ${Vectors.cosineSql("x.embedding", "y.embedding")} AS cosine
       |FROM cand JOIN e x ON da = x.vec_id JOIN e y ON db = y.vec_id
       |WHERE ${Vectors.cosineSql("x.embedding", "y.embedding")} >= 0.45
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // --- q_dd_contamination ---------------------------------------------------
  // Benchmark-contamination screen — the dedup family's sibling every
  // LLM-data pipeline runs before training: for each training doc, the
  // fraction of its distinct 3-shingles that also appear in a held-out
  // eval set; frac >= 0.5 flags the doc. Here the eval set is the
  // deterministic doc_id % EvalMod == 0 slice standing in for the real
  // benchmark corpus (an external, SMALL artifact by nature).
  //
  // 100 TB shape: the eval shingle universe is broadcast (benchmarks are
  // MBs, corpora are TBs — the asymmetry is structural, not luck), so
  // the training corpus is never shuffled for the membership test; the
  // only shuffle is the per-doc count aggregation, which map-side
  // combines. Contrast with joining on shingle: that would shuffle the
  // full corpus' shingle stream.
  private[queries] val EvalMod = 25

  def contamination(s: SparkSession, d: String): DataFrame = {
    // forward (doc-bucketed) twin: the per-doc rollup below plans zero
    // exchanges; both uses re-scan the 8-bucket materialization
    val ex = shingleRowsByDoc(s, d)
    val evalShingles = ex.filter(col("doc_id") % EvalMod === 0)
      .select(col("s")).distinct()
      .withColumn("hit", lit(1L))
    ex.filter(col("doc_id") % EvalMod =!= 0)
      .join(broadcast(evalShingles), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("hit")), lit(0L)).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_frac"))
      .withColumn("contaminated", col("overlap_frac") >= 0.5)
      .orderBy("doc_id")
  }

  val contaminationSql: String =
    s"""WITH sh AS ($shingleSetsSql),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ev AS (SELECT DISTINCT s FROM ex WHERE doc_id % $EvalMod = 0)
       |SELECT e.doc_id, count(*)::BIGINT AS n_shingles,
       |  count(ev.s)::BIGINT AS n_overlap,
       |  count(ev.s) / count(*)::DOUBLE AS overlap_frac,
       |  (count(ev.s) / count(*)::DOUBLE) >= 0.5 AS contaminated
       |FROM (SELECT * FROM ex WHERE doc_id % $EvalMod <> 0) e
       |LEFT JOIN ev ON e.s = ev.s
       |GROUP BY e.doc_id
       |ORDER BY doc_id""".stripMargin

  // --- q_dd_bloom_probe -----------------------------------------------------
  // The contamination screen rebuilt on a RELATIONAL BLOOM FILTER — the
  // membership artifact that survives when even the distinct eval
  // shingle set outgrows a broadcast (q_dd_contamination ships the
  // shingle STRINGS; a filter ships m/8 bytes regardless of shingle
  // count or length). The filter is ordinary relational state: 3
  // seeded md5 hashes position each eval shingle in m = 2^15 bits,
  // bits pack into 1024 32-bit lanes of BIGINT words (bit 63 stays clear: DuckDB raises on 1<<63 where the JVM wraps — 32-bit lanes keep the shift portable) by `bit_or` (mergeable — partial
  // filters from different partitions/days OR together, the same
  // merge discipline as the HLL registers), and the probe side tests
  // its 3 positions via three BROADCAST joins against the word table —
  // the corpus never shuffles at shingle grain, and the per-doc
  // aggregation map-side combines exactly like the exact-set variant.
  // Both engines replay identical integer arithmetic, so the output —
  // including every false positive the 3-hash encoding produces — is
  // bit-reproducible: n_bloom ≥ n_exact per doc by construction, the
  // gap IS the FP behavior, and DedupSpec bounds its rate against the
  // 1% design point. At 100 TB the three probe joins stay broadcast
  // (the filter is 4 KB here; a billion-key filter at 1% FP is ~1.2 GB
  // — still one executor's broadcast, where the exact set long since
  // stopped fitting anywhere).
  private val BloomBits = 1 << 15 // m: 32768 bits = 512 words
  private val BloomK = 3

  def bloomProbe(s: SparkSession, d: String): DataFrame = {
    // forward (doc-bucketed) twin — see contamination
    val ex = shingleRowsByDoc(s, d)
    val evalSh = ex.filter(col("doc_id") % EvalMod === 0).select("s")
    val posCols = (0 until BloomK).map(i =>
      pmod(Hashes.md5Int32Seeded(col("s"), i), lit(BloomBits)))
    val words = evalSh
      .select(explode(array(posCols: _*)).as("pos"))
      .select((col("pos") / 32).cast("long").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(pmod(pos, 32) as int))").as("mask"))
      .groupBy("word").agg(expr("bit_or(mask)").as("bits"))
    val exact = evalSh.distinct().withColumn("hit", lit(1L))
    var probe = ex.filter(col("doc_id") % EvalMod =!= 0)
    for (i <- 0 until BloomK) {
      probe = probe
        .withColumn(s"w$i", (posCols(i) / 32).cast("long"))
        .withColumn(s"m$i", expr(
          s"shiftleft(cast(1 as bigint), cast(pmod(${posColSql(i)}, 32) as int))"))
        .join(broadcast(words.select(col("word").as(s"w$i"),
          col("bits").as(s"b$i"))), Seq(s"w$i"), "left")
    }
    val positive = (0 until BloomK).map(i =>
      col(s"b$i").isNotNull &&
        col(s"b$i").bitwiseAND(col(s"m$i")) === col(s"m$i")).reduce(_ && _)
    probe
      .join(broadcast(exact), Seq("s"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(positive, 1L).otherwise(0L)).as("n_bloom"),
        coalesce(sum(col("hit")), lit(0L)).as("n_exact"))
      .select(col("doc_id"), col("n_shingles"), col("n_bloom"), col("n_exact"),
        (col("n_bloom").cast("double") / col("n_shingles")).as("bloom_frac"))
      .withColumn("flagged", col("bloom_frac") >= 0.5)
      .orderBy("doc_id")
  }

  /** The i-seeded bloom position as a SQL fragment over column `s` —
    * shared by the Spark `expr` masks and the DuckDB oracle so both
    * engines hash identically. */
  private def posColSql(i: Int): String =
    s"pmod(${sparkMd5SeededSql("s", i)}, $BloomBits)"

  /** Spark-SQL spelling of [[Hashes.md5Int32Seeded]] (conv-based). */
  private def sparkMd5SeededSql(c: String, seed: Int): String =
    s"cast(conv(substring(md5(concat('${seed}_', $c)), 1, 8), 16, 10) as bigint)"

  val bloomProbeSql: String = {
    def posSql(c: String, i: Int) = s"(${Hashes.md5Int32SeededSql(c, i)} % $BloomBits)"
    val probeJoins = (0 until BloomK).map { i =>
      s"LEFT JOIN words b$i ON b$i.word = ${posSql("e.s", i)} // 32"
    }.mkString("\n       |")
    val positive = (0 until BloomK).map { i =>
      s"(b$i.bits IS NOT NULL AND (b$i.bits & (1::BIGINT << CAST(${posSql("e.s", i)} % 32 AS INT))) = (1::BIGINT << CAST(${posSql("e.s", i)} % 32 AS INT)))"
    }.mkString(" AND ")
    val posUnion = (0 until BloomK).map(i => posSql("s", i)).mkString(", ")
    s"""WITH sh AS ($shingleSetsSql),
       |ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
       |ev AS (SELECT s FROM ex WHERE doc_id % $EvalMod = 0),
       |pos AS (SELECT unnest([$posUnion]) AS pos FROM ev),
       |words AS (
       |  SELECT pos // 32 AS word,
       |    bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
       |  FROM pos GROUP BY 1),
       |evd AS (SELECT DISTINCT s FROM ev),
       |pr AS (
       |  SELECT e.doc_id, e.s,
       |    CASE WHEN $positive THEN 1 ELSE 0 END AS bloom_pos,
       |    CASE WHEN evd.s IS NOT NULL THEN 1 ELSE 0 END AS exact_hit
       |  FROM (SELECT * FROM ex WHERE doc_id % $EvalMod <> 0) e
       |  $probeJoins
       |  LEFT JOIN evd ON e.s = evd.s)
       |SELECT doc_id, count(*)::BIGINT AS n_shingles,
       |  CAST(sum(bloom_pos) AS BIGINT) AS n_bloom,
       |  CAST(sum(exact_hit) AS BIGINT) AS n_exact,
       |  sum(bloom_pos) / count(*)::DOUBLE AS bloom_frac,
       |  (sum(bloom_pos) / count(*)::DOUBLE) >= 0.5 AS flagged
       |FROM pr
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  // --- q_dd_semdedup --------------------------------------------------------
  // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup that
  // first k-means-clusters the embedding space and then looks for
  // cosine-near pairs ONLY within a cluster — the pruning that turns
  // O(n²) semantic dedup into k independent O((n/k)²) problems. Per doc
  // the emitted DECISION is keep/drop: a doc is dropped when ANY
  // earlier (lower-id) doc in its cluster sits within the cosine
  // threshold. That is the order-free parallel relaxation of the
  // paper's greedy keep-one-per-ε-ball sweep (which tests only against
  // already-KEPT docs and is inherently serial per cluster): the
  // relaxed rule may drop a chain member the greedy sweep would keep
  // (each dropped doc is within ε of its earlier neighbor; the
  // neighbor chain has strictly decreasing ids so it ends at a kept
  // doc, at distance ≤ chain-length × ε), and in exchange the rule is
  // one self-join + one aggregate — no sequential dependence at all.
  //
  // 100 TB shape: the cluster id is computed scan-side (literal
  // centroids, codegen'd dots — same E-step as q_sim_kmeans_assign) and
  // becomes the ONE shuffle key; at scale the corpus is written
  // partitioned by cluster (the IVF layout q_sim_ivf_topk reads), so
  // the within-cluster self-join is partition-local and its cost is
  // capped by cluster size — real deployments size k so clusters hold
  // ~10³-10⁴ vectors (k here is 8 for parity with the k-means family;
  // the vec_id < 1000 slice keeps the exact baseline sub-quadratic,
  // like q_dd_embed_neardup). A degenerate mega-cluster gets the SAME
  // enforced contract as a hot LSH bucket: clusters over MaxSemCluster
  // members generate NO within-cluster pairs (all members kept) — the
  // O((n/k)²) bound is then a hard guarantee, not a hope about the
  // k-means balance. The gate is a counting aggregate (O(1) state per
  // cluster — even cheaper than the LSH paths' bounded_collect, which
  // is only needed where the collected list feeds pair explosion), the
  // oracle models it identically, q_dd_cap_audit measures what it
  // drops, and the production answer to a firing cap is a second
  // k-means split level.
  private val SemThreshold = 0.45
  private[queries] val MaxSemCluster = 600

  def semDedup(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .filter(col("vec_id") < 1000)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("cluster_id", Similarity.clusterOf(col("v")))
      // norms once per vector (not per pair): cosine(a,b) = dot/(na*nb)
      .withColumn("nrm", Vectors.norm(col("v")))
    // mega-cluster cap: the overflow list is tiny by construction (each
    // entry absorbs >cap members), so it broadcasts as an anti-join
    val big = e.groupBy("cluster_id").agg(count(lit(1)).as("cn"))
      .filter(col("cn") > MaxSemCluster).select("cluster_id")
    val eok = e.join(broadcast(big), Seq("cluster_id"), "left_anti")
    val a = eok.select(col("vec_id").as("da"), col("cluster_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = eok.select(col("vec_id").as("db"), col("cluster_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cluster_id"))
      .filter(col("da") < col("db"))
      .filter(Vectors.dot(col("va"), col("vb")) / (col("na") * col("nb"))
        >= SemThreshold)
      .groupBy(col("db").as("vec_id"))
      .agg(count(lit(1)).as("n_earlier_dups"))
    e.select("vec_id", "cluster_id")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("n_earlier_dups"), lit(0L)).as("n_earlier_dups"))
      .withColumn("is_kept", col("n_earlier_dups") === 0)
      .orderBy("vec_id")
  }

  val semDedupSql: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    ${Similarity.clusterOfSql("embedding")} AS cluster_id,
       |    sqrt(${Vectors.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings WHERE vec_id < 1000),
       |big AS (
       |  SELECT cluster_id FROM e GROUP BY cluster_id
       |  HAVING count(*) > $MaxSemCluster),
       |dups AS (
       |  SELECT b.vec_id, count(*) AS n_earlier_dups
       |  FROM e a JOIN e b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |  WHERE ${Vectors.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)
       |    >= $SemThreshold
       |    AND a.cluster_id NOT IN (SELECT cluster_id FROM big)
       |  GROUP BY b.vec_id)
       |SELECT e.vec_id, e.cluster_id,
       |  coalesce(d.n_earlier_dups, 0)::BIGINT AS n_earlier_dups,
       |  coalesce(d.n_earlier_dups, 0) = 0 AS is_kept
       |FROM e LEFT JOIN dups d ON e.vec_id = d.vec_id
       |ORDER BY e.vec_id""".stripMargin

  // --- q_dd_cluster_keeper --------------------------------------------------
  // The FINAL step of a real dedup pipeline: near-dup PAIRS (minhash-LSH
  // verified, jaccard >= 0.5) are only half the job — the corpus needs
  // one KEEPER per connected component of the near-dup graph (A~B, B~C
  // must drop two of {A,B,C}, not one of each pair).

  /** Connected components over an undirected edge list (`src`,`dst`, both
    * directions present) via min-label propagation WITH pointer jumping.
    * Each round does two monotone steps:
    *   1. neighbor min:   label(x) ← min(label(x), min over neighbors y of label(y))
    *   2. pointer jump:   label(x) ← label(label(x))
    * Neighbor-min alone converges in O(component diameter) rounds — fine
    * for clique-ish near-dup clusters, O(n) for a chain (transitive
    * near-dups at scale produce exactly those). The pointer jump doubles
    * the distance a label has travelled each round, so the combination
    * converges in O(log n) rounds on ANY component shape (a 1000-node
    * chain needs ~9 rounds instead of ~1000 — see DedupSpec). Label
    * values are always node ids of the same component, so the jump join
    * (labels ⋈ labels on label = id) is a plain equi-join; per round the
    * total cost is TWO equi-joins + ONE min-aggregate + a scalar sum.
    * Convergence reads the SUM of labels: both steps are monotone
    * non-increasing per node, so the exact integer sum strictly decreases
    * until the fixed point and equal consecutive sums ⇔ no label moved
    * (and the neighbor-min fixed point forces labels constant = min per
    * component). `localCheckpoint` truncates the growing lineage so round
    * N's plan does not replay rounds 1..N-1; the driver loop carries only
    * the scalar checksum, never data. Returns (labels, rounds). */
  private[graft] def connectedComponents(edges: DataFrame): (DataFrame, Int) = {
    // seed with the first propagation round fused in: label(0) =
    // min(id, neighbors) — one round fewer to converge
    val labels0 = edges.select(col("src").as("id"), col("dst").as("label"))
      .unionByName(edges.select(col("src").as("id"), col("src").as("label")))
      .groupBy("id").agg(min(col("label")).as("label"))
      .localCheckpoint()
    // exact decimal sum: billions of int64 ids would overflow an int64
    // accumulator, and the strict-decrease argument needs exact integers
    def checksum(l: DataFrame): java.math.BigDecimal =
      l.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
    def jump(l: DataFrame): DataFrame = {
      val tgt = l.select(col("id").as("jid"), col("label").as("jlabel"))
      l.join(tgt, l("label") === tgt("jid"), "left")
        .select(l("id"), coalesce(col("jlabel"), l("label")).as("label"))
    }
    // state: (labels, the previous round's checksum, their checksum)
    val prop = Iterate.fixpoint((labels0, Option.empty[java.math.BigDecimal], checksum(labels0)), 64)(
      { case (_, prev, curr) => prev.exists(_.compareTo(curr) == 0) }) {
      case ((labels, _, curr), _) =>
        val neigh = edges.join(labels, edges("dst") === labels("id"))
          .select(edges("src").as("id"), col("label"))
        val propagated = labels.unionByName(neigh)
          .groupBy("id").agg(min(col("label")).as("label"))
        val next = jump(propagated).localCheckpoint()
        (next, Some(curr), checksum(next))
    }
    require(prop.converged, "label propagation failed to converge in 64 rounds")
    (prop.state._1, prop.rounds)
  }

  def clusterKeeper(s: SparkSession, d: String): DataFrame = {
    val pairs = minhashLsh(s, d).select(col("doc_a"), col("doc_b"))
    val edges = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").localCheckpoint()
    val (labels, _) = connectedComponents(edges)
    labels.select(col("id").as("doc_id"), col("label").as("cluster"))
      .withColumn("is_keeper", col("doc_id") === col("cluster"))
      .orderBy("doc_id")
  }

  val clusterKeeperSql: String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT doc_a, doc_b FROM ($minhashLshSql) q),
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |nodes AS (SELECT DISTINCT u FROM edges),
       |reach(u, v) AS (
       |  SELECT u, u FROM nodes
       |  UNION
       |  SELECT e.u, r.v FROM edges e JOIN reach r ON e.v = r.u)
       |SELECT u AS doc_id, min(v) AS cluster, u = min(v) AS is_keeper
       |FROM reach GROUP BY u
       |ORDER BY doc_id""".stripMargin

  // --- q_dd_hamming_join ------------------------------------------------------
  // CHARACTER-LEVEL near-dup join at fixed width — the typo/OCR-noise
  // class the set-similarity family can't see: PPJoin/minhash operate
  // on token or shingle SETS, so two 40-char keys differing in 2
  // characters are either identical shingle-wise (long shingles
  // swallow the edit) or wildly different (short shingles at the edit
  // site). The missing primitive is a Hamming-distance pair join over
  // fixed-width keys (normalized titles, checksums, fingerprints, id
  // slugs): all pairs at Hamming distance ≤ d.
  //
  // Candidate generation is the PIGEONHOLE SEGMENT JOIN (the PassJoin
  // family's filter, public literature): split every key into d+1
  // fixed segments — ≤ d substitutions can touch at most d of them,
  // so some segment survives EXACTLY EQUAL in both strings of every
  // true pair. One equi-join on (slot, segment) is therefore a
  // COMPLETE filter (a theorem, not a heuristic — DedupSpec proves
  // candidates ⊇ brute-force truth on randomized fixtures), and at
  // scale it is one keyed shuffle on ~13-char segment buckets —
  // vastly more selective than q-gram postings, immune to the
  // hot-gram blowup a count-filter join suffers on natural text.
  // Verification (the exact positional mismatch count) runs on
  // CANDIDATES ONLY. The fixture plants variants with 1-2
  // deterministic substitutions next to the corpus's natural
  // shared-prefix duplicates; the oracle replays the identical
  // segment join + hamming() in DuckDB.
  private val HamD = 2 // pairs at Hamming distance <= 2
  private val HamW = 40 // fixed key width: the 40-char text prefix

  def hammingJoin(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(length(col("text")) >= HamW)
    val base = docs.select(col("doc_id").as("id"),
      substring(col("text"), 1, HamW).as("s"))
    // planted variants: 2 deterministic single-char substitutions (the
    // positions may coincide → a distance-1 pair; both engines replay)
    val mut = docs.filter(col("doc_id") % 9 === 0)
      .select(col("doc_id"), substring(col("text"), 1, HamW).as("s0"))
      .withColumn("p1", (col("doc_id") % 31 + 3).cast("int"))
      .withColumn("p2", (col("doc_id") % 13 + 1).cast("int"))
      .withColumn("m1", concat(col("s0").substr(lit(1), col("p1") - 1),
        lit("#"), col("s0").substr(col("p1") + 1, lit(HamW))))
      .withColumn("m2", concat(col("m1").substr(lit(1), col("p2") - 1),
        lit("@"), col("m1").substr(col("p2") + 1, lit(HamW))))
      .select((col("doc_id") + 1000000L).as("id"), col("m2").as("s"))
    hammingPairsOf(base.unionAll(mut), HamW, HamD)
  }

  /** Pigeonhole segment join over any fixed-width (id, s) frame —
    * exposed so DedupSpec can prove the completeness theorem against
    * a brute-force recompute on randomized fixtures. Segments: d+1
    * pieces of width w, the first (w mod (d+1)) taking the extra
    * character — e.g. 40 at d=2 → 14+13+13, the convention the
    * DuckDB oracle replays. */
  private[graft] def hammingPairsOf(strs: DataFrame, w: Int, dMax: Int): DataFrame = {
    val k = dMax + 1
    val base0 = w / k
    val r = w % k
    val bounds = (0 until k).map { i =>
      val start = 1 + (0 until i).map(j => base0 + (if (j < r) 1 else 0)).sum
      (start, base0 + (if (i < r) 1 else 0))
    }
    val segs = strs.select(col("id"), col("s"),
      posexplode(array(bounds.map { case (st, ln) =>
        substring(col("s"), st, ln) }: _*)).as(Seq("i", "seg")))
      .localCheckpoint() // self-joined: pin to keep attributes disjoint
    val cand = segs.as("a")
      .join(segs.as("b"),
        col("a.i") === col("b.i") && col("a.seg") === col("b.seg") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"),
        col("a.s").as("sa"), col("b.s").as("sb"))
      .distinct()
    // exact positional mismatch count, candidates only
    val dist = aggregate(
      transform(sequence(lit(1), lit(w)),
        i => when(col("sa").substr(i, lit(1)) === col("sb").substr(i, lit(1)),
          lit(0L)).otherwise(lit(1L))),
      lit(0L), (acc, x) => acc + x)
    cand.select(col("a_id"), col("b_id"), dist.as("dist"))
      .filter(col("dist") <= dMax)
      .orderBy("a_id", "b_id")
  }

  val hammingJoinSql: String =
    s"""WITH docs AS MATERIALIZED (
       |  SELECT doc_id, substr(text, 1, $HamW) AS s FROM documents
       |  WHERE length(text) >= $HamW),
       |mut AS MATERIALIZED (
       |  SELECT doc_id + 1000000 AS id,
       |    concat(substr(m1, 1, p2 - 1), '@', substr(m1, p2 + 1, $HamW)) AS s
       |  FROM (
       |    SELECT doc_id, p2,
       |      concat(substr(s, 1, p1 - 1), '#', substr(s, p1 + 1, $HamW)) AS m1
       |    FROM (SELECT doc_id, s,
       |            CAST(doc_id % 31 + 3 AS INT) AS p1,
       |            CAST(doc_id % 13 + 1 AS INT) AS p2
       |          FROM docs WHERE doc_id % 9 = 0))),
       |strs AS MATERIALIZED (
       |  SELECT doc_id AS id, s FROM docs
       |  UNION ALL SELECT id, s FROM mut),
       |segs AS MATERIALIZED (
       |  SELECT id, s, 0 AS i, substr(s, 1, 14) AS seg FROM strs
       |  UNION ALL SELECT id, s, 1, substr(s, 15, 13) FROM strs
       |  UNION ALL SELECT id, s, 2, substr(s, 28, 13) FROM strs),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.id AS a_id, b.id AS b_id, a.s AS sa, b.s AS sb
       |  FROM segs a JOIN segs b
       |    ON a.i = b.i AND a.seg = b.seg AND a.id < b.id)
       |SELECT a_id, b_id, CAST(hamming(sa, sb) AS BIGINT) AS dist
       |FROM cand
       |WHERE hamming(sa, sb) <= $HamD
       |ORDER BY a_id, b_id""".stripMargin

  // --- q_dd_incremental -----------------------------------------------------
  // INCREMENTAL batch dedup — the deployment shape most production
  // pipelines actually run: dedup TODAY'S batch against the staged
  // corpus index, never re-dedup the corpus. The staged index is two
  // keyed sets computed by the same relational (codegen'd) builds the
  // batch operators use: content digests (md5) for exact dups and
  // 16-permutation minhash signature strings for signature-identical
  // near-dups (the streaming drain's q_st_neardup key, batch form). A
  // batch doc is admitted iff neither key collides. Both probes are
  // plain equi-joins on the index key — at 100 TB the index is a
  // bucketed table on (digest | sig) and the daily batch streams past
  // it with one shuffle each, cost O(|batch| + touched buckets), never
  // O(|corpus|). The deterministic batch slice (doc_id % 7 = 3) stands
  // in for "today's files"; docs with no complete shingle have a NULL
  // signature and can only collide exactly (NULL never equi-matches —
  // identical semantics in both engines, pinned by the oracle).
  private val IncrementalMod = 7
  private val IncrementalSlice = 3

  def incremental(s: SparkSession, d: String): DataFrame = {
    val sigs = minhashSignatures(s, d).select(col("doc_id"),
      array_join(transform(col("sig"), h => h.cast("string")), ",").as("sig"))
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(sigs, Seq("doc_id"), "left")
    val isBatch = col("doc_id") % IncrementalMod === IncrementalSlice
    val batch = docs.filter(isBatch)
    val corpus = docs.filter(!isBatch)
    val idxH = corpus.select("h").distinct().withColumn("exact_hit", lit(true))
    val idxS = corpus.filter(col("sig").isNotNull)
      .select("sig").distinct().withColumn("sig_hit", lit(true))
    batch
      .join(idxH, Seq("h"), "left")
      .join(idxS, Seq("sig"), "left")
      .select(col("doc_id"),
        coalesce(col("exact_hit"), lit(false)).as("exact_dup"),
        coalesce(col("sig_hit"), lit(false)).as("sig_dup"),
        (coalesce(col("exact_hit"), lit(false)) ||
          coalesce(col("sig_hit"), lit(false))).unary_!.as("admitted"))
      .orderBy("doc_id")
  }

  val incrementalSql: String =
    s"""WITH $minhashSigCte,
       |sigstr AS (SELECT doc_id, array_to_string(sig, ',') AS sig FROM sig),
       |alldocs AS (
       |  SELECT d.doc_id, md5(d.text) AS h, s.sig
       |  FROM documents d LEFT JOIN sigstr s USING (doc_id)),
       |batch AS (SELECT * FROM alldocs WHERE doc_id % $IncrementalMod = $IncrementalSlice),
       |corpus AS (SELECT * FROM alldocs WHERE doc_id % $IncrementalMod <> $IncrementalSlice)
       |SELECT b.doc_id,
       |  b.h IN (SELECT h FROM corpus) AS exact_dup,
       |  coalesce(b.sig IN (SELECT sig FROM corpus WHERE sig IS NOT NULL), FALSE) AS sig_dup,
       |  NOT (b.h IN (SELECT h FROM corpus)
       |    OR coalesce(b.sig IN (SELECT sig FROM corpus WHERE sig IS NOT NULL), FALSE)) AS admitted
       |FROM batch b
       |ORDER BY b.doc_id""".stripMargin

  // --- q_dd_cap_audit -------------------------------------------------------
  // Cap-overflow OBSERVABILITY for every capped LSH/bucket path: the caps
  // (MaxShingleDf, MaxEmbedBucket) are correct, oracle-verified scale
  // semantics — but they silently drop pairs past the bucket limit, so a
  // production run cannot see its recall loss. This row makes the loss
  // measurable: per path, the bucket histogram summary (total buckets,
  // overflowed buckets, entries inside overflowed buckets, DISTINCT docs
  // whose candidates are affected, max bucket size). Built from the SAME
  // band/bucket builders the operators use (minhashBands/simhashBands/
  // embedBands/shingleRows), so the audit cannot drift from the audited
  // code. Cost shape: counting aggregates only — per-bucket state is one
  // int (never a collect), the histogram is tiny, and the one join
  // (members ⋈ overflowed keys) broadcasts the overflow side, which is
  // small BY CONSTRUCTION (each overflowed bucket absorbs >cap entries
  // of a finite stream). At 100 TB this runs as a side-channel of the
  // dedup job at a fraction of its cost and answers "how much recall did
  // the caps cost, and where" — the number you tune band geometry with.
  def capAudit(s: SparkSession, d: String): DataFrame = {
    def one(members: DataFrame, cap: Int, path: String): DataFrame = {
      val m = members.toDF("bucket", "member").localCheckpoint()
      val sizes = m.groupBy("bucket").agg(count(lit(1)).as("n"))
      // attach each bucket's size back to its member rows: an equi-join
      // co-partitioned with the aggregation that produced it (never a
      // cartesian, never a broadcast of the bucket table — at corpus
      // scale there is one bucket per shingle), then ONE global
      // aggregate computes the whole summary including distinct-doc
      // impact — no scalar-combine join at all.
      m.join(sizes, Seq("bucket"))
        .agg(
          countDistinct(col("bucket")).as("n_buckets"),
          countDistinct(when(col("n") > cap, col("bucket"))).as("n_overflow"),
          count(when(col("n") > cap, lit(1))).as("entries_in_overflow"),
          countDistinct(when(col("n") > cap, col("member"))).as("docs_affected"),
          coalesce(max(col("n")), lit(0L)).as("max_bucket"))
        .select(lit(path).as("path"), col("n_buckets"), col("n_overflow"),
          col("entries_in_overflow"), col("docs_affected"), col("max_bucket"))
    }
    val key = concat_ws("|", col("band_id"), col("band_key"))
    // r15: the RESCUE's own wide-band level is audited too — a wide
    // bucket still hot after escalation is an identical-signature
    // cluster the two-level escape cannot split (cluster-keeper
    // territory); this row is how that residual mass is monitored.
    def escalatedOf(bands: DataFrame): DataFrame = {
      val hot = bands.groupBy("band_id", "band_key")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > MaxShingleDf).select("band_id", "band_key")
      bands.join(broadcast(hot), Seq("band_id", "band_key"))
        .select("doc_id").distinct()
    }
    // one shingle scan serves the df audit; signatures come from the
    // SAME staged table every operator reads (minhashSignatures — the
    // by-construction coupling now lives in the staging function)
    val shingleStream = shingleRows(s, d).localCheckpoint()
    val mhSig = minhashSignatures(s, d).localCheckpoint()
    val mhBands = minhashBandsFrom(mhSig).localCheckpoint()
    val shSig = simhashSignatures(s, d).localCheckpoint()
    val shBands = simhashBands(shSig).localCheckpoint()
    one(shingleStream.select(col("s"), col("doc_id")),
      MaxShingleDf, "ngram_shingle")
      .unionByName(one(mhBands.select(key, col("doc_id")),
        MaxShingleDf, "minhash_band"))
      .unionByName(one(
        minhashWideBandsFrom(mhSig).join(escalatedOf(mhBands), "doc_id")
          .select(key, col("doc_id")),
        MaxShingleDf, "minhash_wide"))
      .unionByName(one(shBands.select(key, col("doc_id")),
        MaxShingleDf, "simhash_band"))
      .unionByName(one(
        simhashWideBands(shSig).join(escalatedOf(shBands), "doc_id")
          .select(key, col("doc_id")),
        MaxShingleDf, "simhash_wide"))
      .unionByName(one(embedBands(s, d).select(key, col("vec_id")),
        MaxEmbedBucket, "embed_band"))
      .unionByName(one(
        Tables.embeddings(s, d).filter(col("vec_id") < 1000)
          .select(Similarity.clusterOf(col("embedding").cast("array<double>")),
            col("vec_id")),
        MaxSemCluster, "sem_cluster"))
      .orderBy("path")
  }

  // Driver-memoized capAudit RESULT (7 rows × 6 cols) per staged
  // substrate, the Similarity.eigenCache pattern: q_ds_cap_registry
  // consumes the audit as INPUT rows, and without this it re-ran the
  // full band/bucket derivation a second time per session (~5 s at
  // sf0.1 for four tiny downstream aggregates). The derivation itself
  // stays [[capAudit]] — single source, can't-drift — and q_dd_cap_audit
  // keeps executing it live; only registry-style CONSUMERS replay the
  // memoized rows (a LocalTableScan, absorbed by the bench warm pass
  // exactly like staging). Deterministic because capAudit is.
  private val capAuditCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (org.apache.spark.sql.types.StructType,
        Seq[org.apache.spark.sql.Row])]()
  def capAuditRows(s: SparkSession, d: String): DataFrame = {
    val (schema, rows) = capAuditCache.computeIfAbsent(Tables.stageTag(d),
      _ => { val a = capAudit(s, d); (a.schema, a.collect().toSeq) })
    s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
  }

  val capAuditSql: String = {
    def summary(path: String, cap: Int, memberCol: String): String =
      s"""m AS (SELECT band_id::VARCHAR || '|' || band_key::VARCHAR AS bucket,
         |         $memberCol AS member FROM bands),
         |sz AS (SELECT bucket, count(*) AS n FROM m GROUP BY bucket),
         |ovf AS (SELECT bucket, n FROM sz WHERE n > $cap)
         |SELECT '$path' AS path,
         |  (SELECT count(*) FROM sz)::BIGINT AS n_buckets,
         |  (SELECT count(*) FROM ovf)::BIGINT AS n_overflow,
         |  (SELECT coalesce(sum(n), 0) FROM ovf)::BIGINT AS entries_in_overflow,
         |  (SELECT count(DISTINCT m.member) FROM m JOIN ovf ON m.bucket = ovf.bucket)::BIGINT AS docs_affected,
         |  (SELECT coalesce(max(n), 0) FROM sz)::BIGINT AS max_bucket""".stripMargin
    s"""(WITH sh AS ($shingleSetsSql),
       |m AS (SELECT s AS bucket, doc_id AS member
       |      FROM (SELECT doc_id, unnest(shingles) AS s FROM sh)),
       |sz AS (SELECT bucket, count(*) AS n FROM m GROUP BY bucket),
       |ovf AS (SELECT bucket, n FROM sz WHERE n > $MaxShingleDf)
       |SELECT 'ngram_shingle' AS path,
       |  (SELECT count(*) FROM sz)::BIGINT AS n_buckets,
       |  (SELECT count(*) FROM ovf)::BIGINT AS n_overflow,
       |  (SELECT coalesce(sum(n), 0) FROM ovf)::BIGINT AS entries_in_overflow,
       |  (SELECT count(DISTINCT m.member) FROM m JOIN ovf ON m.bucket = ovf.bucket)::BIGINT AS docs_affected,
       |  (SELECT coalesce(max(n), 0) FROM sz)::BIGINT AS max_bucket)
       |UNION ALL
       |(WITH $minhashBandsCte,
       |${summary("minhash_band", MaxShingleDf, "doc_id")})
       |UNION ALL
       |(WITH $minhashBandsCte,
       |hot0 AS (SELECT band_id, band_key FROM bands GROUP BY 1, 2
       |         HAVING count(*) > $MaxShingleDf),
       |esc AS (SELECT DISTINCT bands.doc_id
       |        FROM bands JOIN hot0 USING (band_id, band_key)),
       |wideb AS (
       |  SELECT sig.doc_id, b AS band_id,
       |    array_to_string(sig[b*${RowsPerBand * 2}+1 : b*${RowsPerBand * 2}+${RowsPerBand * 2}], ',') AS band_key
       |  FROM sig JOIN esc USING (doc_id),
       |       unnest(generate_series(0, ${Bands / 2 - 1})) t(b)),
       |m AS (SELECT band_id::VARCHAR || '|' || band_key::VARCHAR AS bucket,
       |         doc_id AS member FROM wideb),
       |sz AS (SELECT bucket, count(*) AS n FROM m GROUP BY bucket),
       |ovf AS (SELECT bucket, n FROM sz WHERE n > $MaxShingleDf)
       |SELECT 'minhash_wide' AS path,
       |  (SELECT count(*) FROM sz)::BIGINT AS n_buckets,
       |  (SELECT count(*) FROM ovf)::BIGINT AS n_overflow,
       |  (SELECT coalesce(sum(n), 0) FROM ovf)::BIGINT AS entries_in_overflow,
       |  (SELECT count(DISTINCT m.member) FROM m JOIN ovf ON m.bucket = ovf.bucket)::BIGINT AS docs_affected,
       |  (SELECT coalesce(max(n), 0) FROM sz)::BIGINT AS max_bucket)
       |UNION ALL
       |(WITH $simhashBandsCte,
       |${summary("simhash_band", MaxShingleDf, "doc_id")})
       |UNION ALL
       |(WITH $simhashBandsCte,
       |hot0 AS (SELECT band_id, band_key FROM bands GROUP BY 1, 2
       |         HAVING count(*) > $MaxShingleDf),
       |esc AS (SELECT DISTINCT bands.doc_id
       |        FROM bands JOIN hot0 USING (band_id, band_key)),
       |wideb AS (
       |  SELECT sh.doc_id, b AS band_id,
       |    (simhash >> (b * ${SimBandBits * 2})) & ${(1L << (SimBandBits * 2)) - 1} AS band_key
       |  FROM sh JOIN esc USING (doc_id),
       |       unnest(generate_series(0, ${SimBands / 2 - 1})) t(b)),
       |m AS (SELECT band_id::VARCHAR || '|' || band_key::VARCHAR AS bucket,
       |         doc_id AS member FROM wideb),
       |sz AS (SELECT bucket, count(*) AS n FROM m GROUP BY bucket),
       |ovf AS (SELECT bucket, n FROM sz WHERE n > $MaxShingleDf)
       |SELECT 'simhash_wide' AS path,
       |  (SELECT count(*) FROM sz)::BIGINT AS n_buckets,
       |  (SELECT count(*) FROM ovf)::BIGINT AS n_overflow,
       |  (SELECT coalesce(sum(n), 0) FROM ovf)::BIGINT AS entries_in_overflow,
       |  (SELECT count(DISTINCT m.member) FROM m JOIN ovf ON m.bucket = ovf.bucket)::BIGINT AS docs_affected,
       |  (SELECT coalesce(max(n), 0) FROM sz)::BIGINT AS max_bucket)
       |UNION ALL
       |(WITH $embedBandsCte,
       |${summary("embed_band", MaxEmbedBucket, "vec_id")})
       |UNION ALL
       |(WITH m AS (
       |  SELECT ${Similarity.clusterOfSql("embedding")} AS bucket, vec_id AS member
       |  FROM embeddings WHERE vec_id < 1000),
       |sz AS (SELECT bucket, count(*) AS n FROM m GROUP BY bucket),
       |ovf AS (SELECT bucket, n FROM sz WHERE n > $MaxSemCluster)
       |SELECT 'sem_cluster' AS path,
       |  (SELECT count(*) FROM sz)::BIGINT AS n_buckets,
       |  (SELECT count(*) FROM ovf)::BIGINT AS n_overflow,
       |  (SELECT coalesce(sum(n), 0) FROM ovf)::BIGINT AS entries_in_overflow,
       |  (SELECT count(DISTINCT m.member) FROM m JOIN ovf ON m.bucket = ovf.bucket)::BIGINT AS docs_affected,
       |  (SELECT coalesce(max(n), 0) FROM sz)::BIGINT AS max_bucket)
       |ORDER BY path""".stripMargin
  }

  // --- q_dd_scurve_audit ------------------------------------------------------
  // THE LSH TUNING TABLE — the band-geometry S-curve made executable
  // (capAudit's scaladoc calls its output "the number you tune band
  // geometry with"; this row is that number). For the committed
  // (b=Bands, r=RowsPerBand) geometry, per exact-Jaccard bucket over
  // the reference pair population (pairs sharing ≥ 1 under-cap
  // shingle — the same completeness precondition every shingle-family
  // operator documents):
  //   n_pairs, n_candidates (pairs the minhash banding actually
  //   surfaced, cap semantics included), measured_rate,
  //   expected_rate (mean over pairs of the per-pair theoretical
  //   P(candidate | j) = 1 − (1 − j^r)^b, quantized to 1e6 before the
  //   sum so the mean is order-free), and p_mid (the textbook curve at
  //   the bucket midpoint).
  // measured − expected is the cap/bucketing cost per similarity band;
  // expected vs p_mid shows within-bucket skew. Re-banding decisions
  // (wider rescue bands, more hashes) read straight off this table.
  //
  // Determinism: the power chain is UNROLLED multiplication with fixed
  // associativity (((j·j)·j)·j — no pow(), whose libm bits differ),
  // buckets are exact integer arithmetic ((common·20) div union,
  // capped at 19), and the expected sum rides 1e6-quantized BIGINTs.
  // Scale: the reference population and candidate set are the SAME
  // bounded derivations the dedup operators run (no new candidate
  // generator, no all-pairs anywhere); everything after is a 20-row
  // digest.
  private def powChain(c: Column, n: Int): Column =
    (2 to n).foldLeft(c)((acc, _) => acc * c)
  private def powChainSql(e: String, n: Int): String =
    (2 to n).foldLeft(e)((acc, _) => s"($acc * $e)")

  def scurveAudit(s: SparkSession, d: String): DataFrame = {
    val ex = shingleRows(s, d) // staged table: no checkpoint needed
    val groups = shingleGroups(s, d) // staged substrate — see its scaladoc
    val hotS = groups.filter(size(col("ds")) > MaxShingleDf).select("s")
    // packed pair keys throughout (the Jaccard-twin discipline): the
    // rare/hot digests aggregate and join on one long, the reference
    // pipeline CARRIES pk beside the unpacked halves, and the candidate
    // set stays packed through its distinct — so the ref↔cand
    // left-join keys on one long too.
    val commonRare = groups
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxShingleDf)
      .select(explode(Dedup.packedPairsOf(col("ds"))).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("common_rare"))
    val hotEx = ex.join(broadcast(hotS), Seq("s"))
    val commonHot = commonRare.select(Dedup.unpackPairKey(col("pk")): _*)
      .join(hotEx.toDF("s", "da"), "da")
      .join(hotEx.toDF("s", "db"), Seq("db", "s"))
      .groupBy(Dedup.packPairKey(col("da"), col("db")).as("pk"))
      .agg(count(lit(1)).as("common_hot"))
    val sizes = shingleRowsByDoc(s, d) // forward twin: zero-exchange rollup
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
    val ref = commonRare
      .join(commonHot, Seq("pk"), "left")
      .select(col("pk") +: Dedup.unpackPairKey(col("pk")) :+
        (col("common_rare") + coalesce(col("common_hot"), lit(0L))).as("common"): _*)
      .join(sizes.toDF("da", "na"), "da")
      .join(sizes.toDF("db", "nb"), "db")
      .withColumn("uni", col("na") + col("nb") - col("common"))
    // the candidate set EXACTLY as minhashLsh generates it (bands,
    // bounded buckets, cap) — the audit must measure the real operator
    val cand = minhashBands(s, d)
      .groupBy("band_id", "band_key")
      .agg(graft.functions.BoundedCollectFunctions
        .boundedCollect(col("doc_id"), MaxShingleDf + 1).as("ds"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= MaxShingleDf)
      .select(explode(Dedup.packedPairsOf(col("ds"))).as("pk"))
      .distinct()
      .withColumn("is_cand", lit(1L))
    val j = col("common").cast("double") / col("uni").cast("double")
    val pPair = lit(1.0) - powChain(lit(1.0) - powChain(j, RowsPerBand), Bands)
    val sMid = (col("bucket") * 2 + 1).cast("double") / lit(40.0)
    val pMid = lit(1.0) - powChain(lit(1.0) - powChain(sMid, RowsPerBand), Bands)
    ref.join(cand, Seq("pk"), "left")
      .select(
        least(lit(19L), expr("(common * 20) div uni")).as("bucket"),
        coalesce(col("is_cand"), lit(0L)).as("c"),
        round(pPair * lit(1e6)).cast("long").as("pe"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"), sum(col("c")).as("n_candidates"),
        sum(col("pe")).as("pes"))
      .select(col("bucket"),
        (col("bucket").cast("double") / lit(20.0)).as("s_lo"),
        col("n_pairs"), col("n_candidates"),
        (col("n_candidates").cast("double") / col("n_pairs").cast("double"))
          .as("measured_rate"),
        (col("pes").cast("double") / lit(1e6) / col("n_pairs").cast("double"))
          .as("expected_rate"),
        pMid.as("p_mid"))
      .orderBy("bucket")
  }

  lazy val scurveAuditSql: String = {
    val jSql = "(common::DOUBLE / uni::DOUBLE)"
    val pPair = s"(1.0 - ${powChainSql(s"(1.0 - ${powChainSql(jSql, RowsPerBand)})", Bands)})"
    val sMid = "((bucket * 2 + 1)::DOUBLE / 40.0)"
    val pMid = s"(1.0 - ${powChainSql(s"(1.0 - ${powChainSql(sMid, RowsPerBand)})", Bands)})"
    s"""WITH $minhashBandsCte,
       |rex AS (SELECT doc_id, unnest(shingles) AS s FROM sh0),
       |grp AS (
       |  SELECT s FROM rex GROUP BY s
       |  HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |refp AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM rex a JOIN rex b ON a.s = b.s AND a.doc_id < b.doc_id
       |  JOIN grp ON grp.s = a.s),
       |jac AS (
       |  SELECT da, db,
       |    len(list_intersect(x.shingles, y.shingles))::BIGINT AS common,
       |    (len(x.shingles) + len(y.shingles)
       |      - len(list_intersect(x.shingles, y.shingles)))::BIGINT AS uni
       |  FROM refp JOIN sh0 x ON da = x.doc_id JOIN sh0 y ON db = y.doc_id),
       |bsz AS (
       |  SELECT band_id, band_key FROM bands GROUP BY 1, 2
       |  HAVING count(*) > 1 AND count(*) <= $MaxShingleDf),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
       |  JOIN bsz ON bsz.band_id = a.band_id AND bsz.band_key = a.band_key),
       |per AS (
       |  SELECT least(19, (common * 20) // uni) AS bucket,
       |    CASE WHEN cand.da IS NOT NULL THEN 1 ELSE 0 END AS c,
       |    CAST(round($pPair * 1e6) AS BIGINT) AS pe
       |  FROM jac LEFT JOIN cand ON cand.da = jac.da AND cand.db = jac.db)
       |SELECT bucket::BIGINT AS bucket, bucket::DOUBLE / 20.0 AS s_lo,
       |  count(*)::BIGINT AS n_pairs,
       |  CAST(sum(c) AS BIGINT) AS n_candidates,
       |  CAST(sum(c) AS BIGINT)::DOUBLE / count(*)::DOUBLE AS measured_rate,
       |  CAST(sum(pe) AS BIGINT)::DOUBLE / 1e6 / count(*)::DOUBLE
       |    AS expected_rate,
       |  $pMid AS p_mid
       |FROM per GROUP BY bucket
       |ORDER BY bucket""".stripMargin
  }

  // --- q_dd_substring_dup ---------------------------------------------------
  // EXACT substring duplication — the "Deduplicating Training Data
  // Makes Language Models Better" (Lee et al. 2021, public) method's
  // metric, re-expressed relationally: a character position is
  // duplicated iff the L-gram starting there occurs ≥ 2 times in the
  // corpus (any doc, including elsewhere in the same doc — exactly the
  // suffix-array criterion for membership in a repeated substring of
  // length ≥ L). Runs of duplicated positions merge into SPANS (a
  // repeat of length L+k yields k+1 consecutive duplicated positions →
  // one span of L+k chars), and the per-doc output is the span count,
  // duplicated-char total, and duplicated fraction — the numbers the
  // paper's filter thresholds on.
  //
  // Relational shape, NO pairs anywhere: one position stream linear in
  // corpus characters (the CDC-chunking grain), one groupBy on the
  // gram for corpus df, one join back, and the gaps-and-islands window
  // per doc (the q_t4_sessionize machinery) for span merging. The gram
  // KEY here is the raw L characters — exact, collision-free, and what
  // the DuckDB oracle replays; at 100 TB the key becomes a 128-bit
  // hash (collision-safe at corpus scale) or hash-then-verify, same
  // plan. Suffix arrays find repeats of EVERY length ≥ L in one pass;
  // the L-gram formulation is their standard distributed surrogate
  // (equal output for the ≥L criterion, linear shuffle).
  private val SubL = 24

  def substringDup(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .filter(octet_length(col("text")) === length(col("text"))) // ASCII guard
      .select(col("doc_id"), col("text"), length(col("text")).as("len"))
    val pos = docs.filter(col("len") >= SubL)
      .select(col("doc_id"), col("len"), col("text"),
        explode(sequence(lit(1), col("len") - (SubL - 1))).as("p"))
      .withColumn("gram", expr(s"substring(text, p, $SubL)"))
      .drop("text")
    val dupGrams = pos.groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("gram")
    val dupPos = pos.join(dupGrams, "gram").select("doc_id", "p")
    // Interval merge, not position-run merge: two duplicated positions
    // p1 < p2 cover overlapping L-char spans whenever p2 - p1 <= L-1,
    // so a new island starts only when the gap to the previous
    // duplicated position exceeds L-1 (positions are sorted, so the
    // running max of prior span-ends is just lag(p) + L - 1). The
    // union of a chained island is [min p, max p + L - 1] — no char
    // double-counted (Lee et al.'s duplicated-char total).
    val wi = Window.partitionBy("doc_id").orderBy("p")
    val spans = dupPos
      .withColumn("lagP", lag("p", 1).over(wi))
      .withColumn("newIsl",
        when(col("lagP").isNull || col("p") - col("lagP") > (SubL - 1), 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("newIsl")).over(wi))
      .groupBy("doc_id", "island")
      .agg(min("p").as("s"), (max("p") + (SubL - 1)).as("e"))
    val perDoc = spans.groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s") + 1).as("dup_chars"))
    docs.select(col("doc_id"), col("len").cast("bigint").as("len"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("len"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        (coalesce(col("dup_chars"), lit(0L)).cast("double") /
          col("len").cast("double")).as("dup_frac"))
      .orderBy("doc_id")
  }

  val substringDupSql: String =
    s"""WITH d AS MATERIALIZED (
       |  SELECT doc_id, text, length(text) AS len FROM documents
       |  WHERE octet_length(encode(text)) = length(text)),
       |pos AS MATERIALIZED (
       |  SELECT doc_id, len, g.p AS p, substring(text, g.p, $SubL) AS gram
       |  FROM d, unnest(generate_series(1, len - ${SubL - 1})) g(p)
       |  WHERE len >= $SubL),
       |dg AS MATERIALIZED (
       |  SELECT gram FROM pos GROUP BY gram HAVING count(*) >= 2),
       |dp AS MATERIALIZED (
       |  SELECT doc_id, p FROM pos JOIN dg USING (gram)),
       |isl0 AS MATERIALIZED (
       |  SELECT doc_id, p,
       |    CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
       |           OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
       |              > ${SubL - 1}
       |         THEN 1 ELSE 0 END AS new_isl
       |  FROM dp),
       |isl AS MATERIALIZED (
       |  SELECT doc_id, p,
       |    sum(new_isl) OVER (PARTITION BY doc_id ORDER BY p) AS island
       |  FROM isl0),
       |spans AS MATERIALIZED (
       |  SELECT doc_id, island, min(p) AS s, max(p) + ${SubL - 1} AS e
       |  FROM isl GROUP BY doc_id, island),
       |pd AS MATERIALIZED (
       |  SELECT doc_id, count(*) AS n_spans,
       |    CAST(sum(e - s + 1) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id)
       |SELECT d.doc_id, d.len,
       |  COALESCE(pd.n_spans, 0) AS n_spans,
       |  COALESCE(pd.dup_chars, 0) AS dup_chars,
       |  CAST(COALESCE(pd.dup_chars, 0) AS DOUBLE) / CAST(d.len AS DOUBLE)
       |    AS dup_frac
       |FROM d LEFT JOIN pd USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dd_substring_dup" -> (substringDup _),
    "q_dd_exact" -> (exact _),
    "q_dd_novelty" -> (novelty _),
    "q_dd_split_leakage" -> (splitLeakage _),
    "q_dd_contamination" -> (contamination _),
    "q_dd_bloom_probe" -> (bloomProbe _),
    "q_dd_cluster_keeper" -> (clusterKeeper _),
    "q_dd_ngram_jaccard" -> (ngramJaccard _),
    "q_dd_containment" -> (containment _),
    "q_dd_prefix_join" -> (prefixJoin _),
    "q_dd_minhash_lsh" -> (minhashLsh _),
    "q_dd_simhash" -> (simhash _),
    "q_dd_minhash_rescue" -> (minhashRescue _),
    "q_dd_simhash_rescue" -> (simhashRescue _),
    "q_dd_embed_neardup" -> (embedNearDup _),
    "q_dd_embed_lsh" -> (embedLsh _),
    "q_dd_semdedup" -> (semDedup _),
    "q_dd_cap_audit" -> (capAudit _),
    "q_dd_scurve_audit" -> (scurveAudit _),
    "q_dd_incremental" -> (incremental _),
    "q_dd_hamming_join" -> (hammingJoin _))

  val oracles: Map[String, String] = Map(
    "q_dd_substring_dup" -> substringDupSql,
    "q_dd_exact" -> exactSql,
    "q_dd_novelty" -> noveltySql,
    "q_dd_split_leakage" -> splitLeakageSql,
    "q_dd_contamination" -> contaminationSql,
    "q_dd_bloom_probe" -> bloomProbeSql,
    "q_dd_cluster_keeper" -> clusterKeeperSql,
    "q_dd_ngram_jaccard" -> ngramJaccardSql,
    "q_dd_containment" -> containmentSql,
    "q_dd_prefix_join" -> prefixJoinSql,
    "q_dd_minhash_lsh" -> minhashLshSql,
    "q_dd_simhash" -> simhashSql,
    "q_dd_minhash_rescue" -> minhashRescueSql,
    "q_dd_simhash_rescue" -> simhashRescueSql,
    "q_dd_embed_neardup" -> embedNearDupSql,
    "q_dd_embed_lsh" -> embedLshSql,
    "q_dd_semdedup" -> semDedupSql,
    "q_dd_cap_audit" -> capAuditSql,
    "q_dd_scurve_audit" -> scurveAuditSql,
    "q_dd_incremental" -> incrementalSql,
    "q_dd_hamming_join" -> hammingJoinSql)
}

/** Shared text primitives with exact DuckDB twins. */
object Text {
  /** Whitespace tokenizer; empty text → empty array. */
  def tokens(c: Column): Column =
    when(length(trim(c)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(c), "\\s+"))

  val tokensSqlExpr: String =
    "CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END"

  /** n-word shingles over the token stream (higher-order-function form —
    * reference semantics; unit-tested, but NOT used on the hot path: the
    * lambda re-evaluates its free token-array expression per element when
    * inlined, and HOFs fall out of whole-stage codegen. Production paths
    * use the relational [[shingleRows]]). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Distinct (doc_id, shingle) rows, built relationally: posexplode the
    * token stream, window-lead the next n-1 tokens, concat, distinct.
    * Identical strings to [[shingles]]∘array_distinct, but every operator
    * stays inside whole-stage codegen and parallelizes across the
    * cluster regardless of input-split count — the shape that survives
    * 100 TB (token explosion is a scan-side Generate; the window and
    * distinct shuffle on doc-sized groups). Docs with < n tokens emit no
    * rows (the HOF form's empty array).
    *
    * The default n = 3 table — consumed by seven dedup queries — is
    * STAGED once per dataset fingerprint (the `Graph.coEdges` /
    * `minMaxStage` pattern): re-deriving it per query repeated the
    * tokenize + explode + window pass over every document in each.
    * The staged form is a BUCKETED external table clustered on the
    * shingle ([[graft.Stage.ensureBucketedTable]]): every s-grain
    * consumer — the candidate self-join on shared shingles, the
    * doc-freq aggregations, the group/hot classifications — reads
    * co-located buckets and plans ZERO exchanges over this table,
    * while doc-grain consumers (sizes, shingle sets) shuffle exactly
    * as they did off a plain parquet read (a read-back never reports
    * partitioning it wasn't declared to have). The fingerprint tag
    * means a regenerated dataset can never reuse a stale shingle
    * table. At 100 TB this staging IS the design: the shingle table
    * is the largest intermediate in the whole pipeline, and writing
    * it clustered once per ingest tick is what keeps every dedup
    * analytic from re-shuffling petabytes. */
  def shingleRows(s: SparkSession, d: String, n: Int = 3): DataFrame =
    if (n != 3) shingleRowsDerive(s, d, n)
    else {
      val tag = graft.Tables.stageTag(d)
      val root =
        s"${sys.props("java.io.tmpdir")}/graft_text_$tag/shingle_rows_b3"
      graft.Stage.ensureBucketedTable(s, root, s"graft_shingles_3_$tag",
        "doc_id BIGINT, s STRING", "s", 8)(shingleRowsDerive(s, d, 3))
    }

  /** Doc-clustered twin of the staged shingle table — the FORWARD index
    * to [[shingleRows]]'s inverted (s-bucketed) layout. Doc-grain
    * consumers (per-doc sizes, shingle-set assembly, the contamination
    * screens' per-doc rollups) aggregate on doc_id with ZERO exchanges
    * off this table, while s-grain consumers read the inverted twin.
    * Materializing BOTH layouts of the pipeline's largest intermediate
    * is the standard forward/inverted index pair: each costs one
    * staged shuffle per ingest tick and saves that shuffle in every
    * query on its side of the grain. */
  private[queries] def shingleRowsByDoc(s: SparkSession, d: String): DataFrame = {
    val tag = graft.Tables.stageTag(d)
    val root =
      s"${sys.props("java.io.tmpdir")}/graft_text_$tag/shingle_rows_d3"
    graft.Stage.ensureBucketedTable(s, root, s"graft_shingles_d3_$tag",
      "doc_id BIGINT, s STRING", "doc_id", 8)(shingleRows(s, d))
  }

  private def shingleRowsDerive(s: SparkSession, d: String, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = graft.Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val nexts = (1 until n).map(i => lead("tok", i).over(w))
    tok
      .withColumn("s", concat_ws(" ", (col("tok") +: nexts): _*))
      .withColumn("last", nexts.last)
      .filter(col("last").isNotNull) // only complete n-grams
      .select(col("doc_id"), col("s"))
      .distinct()
  }

  /** doc_id + distinct 3-shingle set for the documents table (docs with
    * no complete shingle are absent — callers filter on len>0 anyway). */
  def shingleSets(s: SparkSession, d: String): DataFrame =
    shingleRowsByDoc(s, d).groupBy("doc_id")
      .agg(collect_list(col("s")).as("shingles"))

  val shingleSetsSql: String =
    s"""SELECT doc_id, list_distinct(
       |    CASE WHEN len(t) < 3 THEN []
       |         ELSE list_transform(generate_series(1, len(t)-2),
       |                i -> array_to_string(t[i:i+2], ' '))
       |    END) AS shingles
       |  FROM (SELECT doc_id, $tokensSqlExpr AS t FROM documents)""".stripMargin
}

/** Vector math with sequential folds so Spark and DuckDB produce
  * bit-identical doubles (both fold left-to-right; parallel SUM would
  * not be order-stable).
  */
object Vectors {
  /** Sequential dot product of two array<double> columns — the codegen'd
    * [[graft.functions.DotProduct]] expression (same left-to-right
    * accumulation as the HOF fold `aggregate(zip_with(a,b,_*_),0.0,_+_)`,
    * which stays in [[dotHof]] as the reference implementation and is
    * property-tested equal). */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecDot(a, b)

  /** Interpreted HOF fold — reference semantics for [[dot]]. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused single-traversal cosine ([[graft.functions.CosineSim]]) —
    * bit-identical to `dot(a, b) / (norm(a) * norm(b))`, one array
    * traversal instead of three in every brute-force candidate loop. */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.vecCosine(a, b)

  /** DuckDB twin: fold over an index list; FLOAT[] inputs are cast to
    * double elementwise before multiplication, matching the Spark cast. */
  def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |  list_transform(generate_series(1, len($a)),
       |    i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (x, y) -> x + y)""".stripMargin.replace("\n", " ")

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
}
