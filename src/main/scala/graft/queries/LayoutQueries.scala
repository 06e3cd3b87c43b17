package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.core.Layout

/** Driver-verified demonstrations of the physical-layout machinery in
  * [[graft.core.Layout]]: the oracle proves the skew/bucketing rewrites
  * are RESULT-preserving (DuckDB runs the plain formulation), while
  * `LayoutSpec` separately asserts the plan shapes (no Exchange under
  * the bucketed join; salted pre-aggregation).
  */
object LayoutQueries {

  // --- q_ly_salted_agg ------------------------------------------------------
  // Skew-safe two-phase aggregation over the events fact: per-(key,salt)
  // partials then a per-key combine — the rewrite that keeps one hot user
  // (10% of a 100 TB event stream) from pinning a single reducer. The
  // oracle is the PLAIN group-by: equal output is the whole point.
  // Value sums route through DECIMAL(18,2) in both engines so the extra
  // combine step cannot drift doubles.
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    Layout.saltedCountSum(
      Tables.events(s, d).select(col("user_id"), col("value")),
      key = "user_id", valueCol = "value")
      .orderBy("user_id")

  val saltedAggSql: String =
    """SELECT user_id, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // --- q_ly_bucketed_join ---------------------------------------------------
  // Fact⋈fact join through the bucketed layout: both sides persisted
  // bucketed+sorted on the join key, so the join itself plans with NO
  // exchange — the shuffle was paid once at write time and is amortized
  // over every later join (the recurring-join layout a 100 TB warehouse
  // runs on). The oracle joins the raw tables directly: identical output
  // proves the bucketed path is a pure layout change.
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val ord = s"ly_orders_$tag"
    val li = s"ly_lineitem_$tag"
    // Idempotent per SF dir within a session: the bucketed copies are
    // immutable once written. The default in-memory catalog does NOT
    // outlive the JVM while the warehouse directory does, so a fresh
    // session must clear any orphaned location before saveAsTable (a
    // lakehouse metastore would make the existence check durable).
    def ensure(table: String, build: => Unit): Unit =
      if (!s.catalog.tableExists(table)) {
        val loc = new org.apache.hadoop.fs.Path(
          s.sessionState.conf.warehousePath, table)
        val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        build
      }
    ensure(ord, Layout.writeBucketed(
      Tables.orders(s, d).select("o_orderkey", "o_orderdate"), ord,
      "o_orderkey", 16))
    ensure(li, Layout.writeBucketed(
      Tables.lineitem(s, d).select("l_orderkey", "l_quantity"), li,
      "l_orderkey", 16))
    s.table(ord)
      .join(s.table(li), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"))
      .orderBy("o_orderkey")
  }

  val bucketedJoinSql: String =
    """SELECT o_orderkey, count(*) AS n_lines,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  // --- q_ly_pruned_history --------------------------------------------------
  // The date-partitioned serving layout as a driver row: events written
  // once through Layout.writeDatePartitioned (a day= Hive partition per
  // calendar day, sorted within files on (user_id, ts) — the parquet
  // analog of the reference's composite B-tree PK, db_queries.sql:76-83),
  // then the get_history slice read back through the partitioned path.
  // Only the 4 requested day partitions are listed or read (partition
  // count plan-asserted in LayoutSpec); the oracle runs the same slice
  // off the FLAT table — identical output proves the layout changes the
  // plan, never the data.
  /** The staged day-partitioned events layout, written once per SF dir
    * and shared by every query that reads through it (`q_ly_pruned_history`,
    * `q_ly_dpp`). Idempotent: the layout is immutable once fully written
    * (_SUCCESS lands at the root after the last partition commits). */
  private[graft] def eventsByDay(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_layout_$tag/events_by_day"
    graft.Stage.ensure(root) { tmp =>
      Layout.writeDatePartitioned(
        Tables.events(s, d).select("event_id", "user_id", "ts", "event_type", "value"),
        tmp, "ts", Seq("user_id", "ts"))
    }
    Tables.read(s, root)
  }

  def prunedHistory(s: SparkSession, d: String): DataFrame =
    eventsByDay(s, d)
      .filter(col("user_id") === 7 &&
        col("day").between(lit("2024-01-05").cast("date"), lit("2024-01-08").cast("date")))
      .select("event_id", "ts", "event_type", "value")
      .orderBy("ts", "event_id")

  val prunedHistorySql: String =
    """SELECT event_id, ts, event_type, value FROM events
      |WHERE user_id = 7
      |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-05' AND DATE '2024-01-08'
      |ORDER BY ts, event_id""".stripMargin

  // --- q_ly_dpp -------------------------------------------------------------
  // DYNAMIC partition pruning as a driver row: q_ly_pruned_history covers
  // the literal-range case (days known at plan time), but the common
  // 100 TB shape is a join against a dim whose FILTER decides the days —
  // a campaign/calendar table — where the surviving days are unknowable
  // until runtime. Spark broadcasts the filtered dim, reuses that
  // broadcast as a subquery filter on the fact scan's `day=` partition
  // column, and only the matching partitions are ever listed or read
  // (plan-asserted in LayoutSpec: `dynamicpruning` on the executed scan).
  // The dim here is the purchase-days of one user (8-13 of 30 days at
  // every SF, so the prune is real and non-degenerate at each scale);
  // the oracle replays the identical join off the FLAT table — equal
  // output proves DPP is a pure access-path optimization.
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.events(s, d)
      .filter(col("event_type") === "purchase" && col("user_id") === 3)
      .select(to_date(col("ts")).as("day")).distinct()
    eventsByDay(s, d)
      .join(dim, Seq("day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("day")
  }

  val dppJoinSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
      |  WHERE event_type = 'purchase' AND user_id = 3)
      |SELECT CAST(e.ts AS DATE) AS day, count(*) AS n_events,
      |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim ON CAST(e.ts AS DATE) = dim.day
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // --- q_ly_zorder ----------------------------------------------------------
  // Z-order (Morton) clustering as a driver row: events staged once
  // sorted by the interleaved-bits z of (user_id, day index) and cut
  // into z-range files, so BOTH dimensions are clustered at once —
  // every file's user span AND day span is bounded (per-file dual-span
  // property asserted in LayoutSpec), and parquet min/max stats prune a
  // scan filtered on either dim. The row reads a genuine 2-D slice
  // (user range × day range) back through the z-ordered layout and
  // exposes each row's z value; the oracle recomputes z bit-for-bit
  // with the same magic-mask arithmetic off the FLAT table — pinning
  // both the slice (layout is a pure access-path change) and the
  // Morton math itself.
  private val ZEpoch = "2024-01-01"

  def zorderScan(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_layout_$tag/events_zorder"
    graft.Stage.ensure(root) { tmp =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .withColumn("day_idx",
          datediff(to_date(col("ts")), lit(ZEpoch).cast("date")))
        .withColumn("z", Layout.zValue(col("user_id"), col("day_idx")))
        .repartitionByRange(16, col("z"))
        .sortWithinPartitions("z")
        .write.parquet(tmp)
    }
    Tables.read(s, root)
      .filter(col("user_id").between(3, 9) && col("day_idx").between(10, 19))
      .select("event_id", "user_id", "day_idx", "z", "value")
      .orderBy("event_id")
  }

  val zorderScanSql: String = {
    def spread(x: String): String = {
      val a = s"((($x) | (($x) << 8)) & 16711935)"
      val b = s"((($a) | (($a) << 4)) & 252645135)"
      val c = s"((($b) | (($b) << 2)) & 858993459)"
      s"((($c) | (($c) << 1)) & 1431655765)"
    }
    val z = s"(${spread("u16")} | (${spread("d16")} << 1))"
    s"""WITH e AS (
       |  SELECT event_id, user_id,
       |    CAST(date_diff('day', DATE '$ZEpoch', CAST(ts AS DATE)) AS INT) AS day_idx, value
       |  FROM events),
       |m AS (
       |  SELECT event_id, user_id, day_idx, value,
       |    user_id % 65536 AS u16, day_idx % 65536 AS d16
       |  FROM e
       |  WHERE user_id BETWEEN 3 AND 9 AND day_idx BETWEEN 10 AND 19)
       |SELECT event_id, user_id, day_idx, CAST($z AS BIGINT) AS z, value
       |FROM m
       |ORDER BY event_id""".stripMargin
  }

  // --- q_ly_compacted_scan ----------------------------------------------------
  // Small-file compaction as a driver row: the events fact is first
  // written DELIBERATELY fragmented (40 small files — the shape a
  // micro-batch upsert table accretes), then rewritten by
  // Layout.compact with a sorted (user_id, ts) layout through the
  // backup-first staged swap. The get_history slice off the compacted
  // table must hash-match the same slice off the original flat table —
  // proving the fragment→compact→swap cycle is a pure layout change.
  // (File-count shrink and row-group-pruning properties are separately
  // asserted in LayoutSpec; the oracle here pins data preservation.)
  def compactedScan(s: SparkSession, d: String): DataFrame = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_layout_$tag/events_compacted"
    // The fragment→compact cycle runs against the UNPUBLISHED temp dir
    // and lands atomically: _COMPACTED (underscore-prefixed, invisible
    // to parquet scans) marks that the swap finished, so a reader can
    // never observe the fragmented intermediate.
    graft.Stage.ensure(root, marker = "_COMPACTED") { tmp =>
      Tables.events(s, d).select("event_id", "user_id", "ts", "event_type", "value")
        .repartition(40)
        .write.parquet(tmp)
      Layout.compact(s, tmp, targetBytes = 512L << 20,
        sortCols = Seq("user_id", "ts"))
      new java.io.File(s"$tmp/_COMPACTED").createNewFile(): Unit
    }
    Tables.read(s, root)
      .filter(col("user_id") === 7 &&
        col("ts").between(
          java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
          java.sql.Timestamp.valueOf("2024-01-25 00:00:00")))
      .select("event_id", "ts", "event_type", "value")
      .orderBy("ts", "event_id")
  }

  val compactedScanSql: String =
    """SELECT event_id, ts, event_type, value FROM events
      |WHERE user_id = 7
      |  AND ts BETWEEN TIMESTAMP '2024-01-05 00:00:00' AND TIMESTAMP '2024-01-25 00:00:00'
      |ORDER BY ts, event_id""".stripMargin

  // --- q_ly_minmax_skip -------------------------------------------------------
  // MANIFEST-level data skipping — the file-stats pruning every table
  // format (Iceberg/Delta/Hudi, all public designs) performs before a
  // byte of data is read, demonstrated as an explicit relational
  // manifest rather than parquet-internal row-group stats (which
  // q_ly_zorder/compacted already exercise): the fact is staged
  // range-clustered on the filter column so per-file spans are tight,
  // the manifest derives RELATIONALLY — one aggregation over the
  // hidden `_metadata.file_path` column, (file, min, max, count) —
  // and a range query consults the manifest first, reading ONLY files
  // whose [min, max] span intersects the predicate. The manifest is
  // file-grain (bounded: O(files), the table-format metadata scale),
  // so collecting the matching paths is the planner-side action every
  // lakehouse query performs, not a data collect. At 100 TB the
  // manifest is itself a partitioned table maintained incrementally at
  // write time; the probe stays one small-table filter. LayoutSpec
  // asserts the skip is REAL (matched files < staged files); the
  // oracle pins result preservation off the flat table.
  private val SkipLo = 3L
  private val SkipHi = 9L

  private[graft] def minMaxStage(s: SparkSession, d: String): String = {
    val tag = Tables.stageTag(d)
    val root = s"${sys.props("java.io.tmpdir")}/graft_layout_$tag/events_minmax"
    graft.Stage.ensure(root) { tmp =>
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        .repartitionByRange(16, col("user_id"))
        .sortWithinPartitions("user_id", "ts")
        .write.parquet(tmp)
    }
    root
  }

  /** The relational manifest: per-file min/max/count on the cluster key. */
  private[graft] def minMaxManifest(s: SparkSession, root: String): DataFrame =
    Tables.read(s, root)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(col("user_id")).as("min_u"), max(col("user_id")).as("max_u"),
        count(lit(1)).as("n_rows"))

  def minMaxSkip(s: SparkSession, d: String): DataFrame =
    minMaxSkipRange(s, d, SkipLo, SkipHi)

  /** Range-parameterized skip scan. An empty manifest match is a legal
    * outcome (the predicate range falls between every file's span) and
    * must return the empty slice, not crash: `read.parquet()` with zero
    * paths throws "unable to infer schema", so the guard reads the
    * staged root with an always-false filter instead — same schema,
    * zero row groups touched after footer pruning. */
  private[graft] def minMaxSkipRange(
      s: SparkSession, d: String, lo: Long, hi: Long): DataFrame = {
    val root = minMaxStage(s, d)
    val files = minMaxManifest(s, root)
      .filter(col("min_u") <= hi && col("max_u") >= lo)
      .select("file").collect().map(_.getString(0))
    val base =
      if (files.isEmpty) Tables.read(s, root).filter(lit(false))
      // outside Tables.read: a pruned file list, not a table path
      else s.read.parquet(files.toIndexedSeq: _*)
    base
      .filter(col("user_id").between(lo, hi))
      .select("event_id", "user_id", "ts", "value")
      .orderBy("event_id")
  }

  val minMaxSkipSql: String =
    s"""SELECT event_id, user_id, ts, value FROM events
       |WHERE user_id BETWEEN $SkipLo AND $SkipHi
       |ORDER BY event_id""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ly_salted_agg" -> (saltedAgg _),
    "q_ly_bucketed_join" -> (bucketedJoin _),
    "q_ly_pruned_history" -> (prunedHistory _),
    "q_ly_dpp" -> (dppJoin _),
    "q_ly_zorder" -> (zorderScan _),
    "q_ly_compacted_scan" -> (compactedScan _),
    "q_ly_minmax_skip" -> (minMaxSkip _))

  val oracles: Map[String, String] = Map(
    "q_ly_salted_agg" -> saltedAggSql,
    "q_ly_bucketed_join" -> bucketedJoinSql,
    "q_ly_pruned_history" -> prunedHistorySql,
    "q_ly_dpp" -> dppJoinSql,
    "q_ly_zorder" -> zorderScanSql,
    "q_ly_compacted_scan" -> compactedScanSql,
    "q_ly_minmax_skip" -> minMaxSkipSql)
}
