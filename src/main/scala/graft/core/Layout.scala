package graft.core

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Physical-layout tools for the two shuffle killers at 100 TB:
  *
  *  - **Bucketing**: persist both sides of a recurring fact⋈fact join
  *    bucketed (and sorted) on the join key; Spark then plans the join
  *    with NO exchange on either side — the shuffle happened once at
  *    write time and is amortized over every subsequent join. This is
  *    the parquet-table analog of the reference's composite B-tree PK
  *    access path (`db_queries.sql:76-80`).
  *
  *  - **Salting**: a skewed key (one user with 10% of all events) makes
  *    one reducer the straggler. Salted two-phase aggregation spreads
  *    each key over `salts` sub-keys (partial agg) and re-combines;
  *    salted broadcast-side replication does the same for joins. AQE's
  *    skew-join handles sort-merge spills automatically — salting is for
  *    the aggregation path AQE does not rewrite.
  *
  * Salts derive from a content hash, never from partition position, so
  * retries redistribute identically (same determinism rule as
  * `Upsert.latestWins`).
  */
object Layout {

  /** Write `df` as a bucketed+sorted managed table on `key` — pay the
    * shuffle once at write, join shuffle-free forever after. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Deterministic per-row salt in [0, salts): content hash of the full
    * row, stable across retries/repartitioning. */
  private def rowSalt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*), lit(salts.toLong))

  /** Skew-safe two-phase aggregation: per-(key, salt) partial count/sum,
    * then per-key final combine. Sums route through DECIMAL(18,2) so the
    * extra combine step cannot drift doubles. Result ≡ plain
    * groupBy(key).agg(count, sum) (property-tested). */
  def saltedCountSum(df: DataFrame, key: String, valueCol: String,
                     salts: Int = 16): DataFrame = {
    val partial = df
      .withColumn("__salt", rowSalt(df, salts))
      .groupBy(col(key), col("__salt"))
      .agg(count(lit(1)).as("__n"),
        sum(col(valueCol).cast("decimal(18,2)")).as("__s"))
    partial
      .groupBy(col(key))
      .agg(sum(col("__n")).as("n"),
        sum(col("__s")).cast("double").as("sum_value"))
  }

  /** Skew-safe equi-join of a skewed big side against a broadcastable
    * small side: the big side gets a content-hash salt, the small side is
    * replicated `salts` times, and the join key becomes (key, salt) — no
    * single reducer sees a whole hot key. Result ≡ plain inner join. */
  def saltedBroadcastJoin(big: DataFrame, small: DataFrame, key: String,
                          salts: Int = 16): DataFrame = {
    val saltedBig = big.withColumn("__salt", rowSalt(big, salts))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    saltedBig.join(broadcast(replicated), Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Date-partitioned, sorted-within-files layout — the serving-side
    * access path for time-ranged per-key reads (the parquet analog of the
    * reference's composite B-tree PK, `db_queries.sql:76-83`): a `day=`
    * Hive partition per calendar day gives PARTITION PRUNING on the time
    * range (whole days never listed, let alone read), and sorting within
    * files on (key, time) gives row-group min/max skipping inside the
    * surviving days. At 100 TB this turns a get_history call from a full
    * scan into a handful of row groups. Plan-asserted in LayoutSpec. */
  def writeDatePartitioned(df: DataFrame, path: String, tsCol: String,
                           sortCols: Seq[String]): Unit =
    df.withColumn("day", to_date(col(tsCol)))
      .repartition(col("day"))
      .sortWithinPartitions(("day" +: sortCols).map(col): _*)
      .write.partitionBy("day").mode(SaveMode.Overwrite).parquet(path)

  /** 16-bit Morton spread: insert a zero bit between each of the low 16
    * bits of `x` (magic-mask doubling). All arithmetic in long space;
    * plain codegen'd bit ops, no UDF. */
  private def spread16(x: Column): Column = {
    val a = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FFL))
    val b = (a.bitwiseOR(shiftleft(a, 4))).bitwiseAND(lit(0x0F0F0F0FL))
    val c = (b.bitwiseOR(shiftleft(b, 2))).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton) value of two dimensions, each taken mod 2^16: the
    * interleaved-bits sort key that clusters BOTH dims at once. Sorting
    * a table by z and cutting it into range-partitioned files bounds
    * every file's span in each dimension to ~sqrt of what a single-dim sort
    * leaves, so parquet min/max stats prune scans filtered on EITHER
    * dim — the multi-dimensional generalization of the (key, ts) sorted
    * layout, and the technique lakehouse table formats ship as OPTIMIZE
    * ZORDER. Deterministic closed-form bit arithmetic: a DuckDB oracle
    * reproduces z exactly. */
  def zValue(a: Column, b: Column): Column =
    spread16(pmod(a.cast("long"), lit(65536L)))
      .bitwiseOR(shiftleft(spread16(pmod(b.cast("long"), lit(65536L))), 1))

  /** Small-file compaction — the maintenance job every streaming/upsert
    * parquet table needs: micro-batch appends accrete thousands of tiny
    * files, and at 100 TB the scan's task count (and NameNode/listing
    * pressure) is set by file count, not bytes. Rewrites the table into
    * `ceil(bytes / targetBytes)` files; with `sortCols` the rewrite also
    * range-partitions and sorts within files, so parquet row-group
    * min/max stats prune key-range scans — the layout the reference got
    * from its composite B-tree PK. Swap is backup-first via
    * [[graft.warehouse.Upsert.overwriteInPlace]]. Returns the file count
    * written. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): Int = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    // The rewrite output is unpartitioned, so compacting a Hive-partitioned
    // ROOT would silently flatten the layout (partition columns become data
    // columns, pruning is lost). Reject it: compact leaf partition
    // directories individually instead.
    val partitionDirs = fs.listStatus(new Path(path))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.contains("=") && !n.startsWith("."))
    require(partitionDirs.isEmpty,
      s"$path looks Hive-partitioned (${partitionDirs.take(3).mkString(", ")}…): " +
        "compact each leaf partition directory, not the root, or the " +
        "partition layout is flattened and pruning lost")
    // recursive byte count, so multi-directory unpartitioned tables size
    // correctly
    val totalBytes = fs.getContentSummary(new Path(path)).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = graft.Tables.read(spark, path)
    val laidOut =
      if (sortCols.nonEmpty)
        df.repartitionByRange(nFiles, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(nFiles)
    graft.warehouse.Upsert.overwriteInPlace(spark, path, laidOut)
    nFiles
  }
}
