package graft.warehouse

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyed-upsert and refresh semantics over plain parquet — the
  * reference's `INSERT … ON CONFLICT` family re-expressed without a
  * lakehouse format (none on this classpath).
  *
  * Semantics preserved exactly:
  *  - last-write-wins on the key (`loader.py:13-18` dict overwrite, then
  *    `ON CONFLICT DO UPDATE`, `loader.py:20-30`)
  *  - insert-if-absent for catalogs (`ON CONFLICT DO NOTHING`,
  *    `series_autoregister.py:55-56`)
  *  - delete-then-reload refresh scoped by a dimension predicate
  *    (`gie/service.py:35-76`)
  *
  * Scale notes: merge work is proportional to |existing ∩ touched
  * partitions| + |incoming|, not table size, once the table is
  * date-partitioned and `partitionOverwriteMode=dynamic` rewrites only
  * touched partitions. The dedup window shuffles on the upsert key —
  * the same key the table is laid out on, so AQE coalesces it against
  * the scan partitioning.
  */
object Upsert {

  /** Last-write-wins dedup: newest `versionCol` row per key; ties broken
    * by the caller's tieBreaker columns, then by a content hash of the
    * full row. Every sort key is a pure function of row data — never of
    * partition layout — so the surviving row is stable across retries,
    * repartitioning, and reruns (a task retry mid-shuffle re-picks the
    * same keeper; the idempotence contract the streaming foreachBatch
    * sink relies on). */
  def latestWins(df: DataFrame, keys: Seq[String], versionCol: String,
                 tieBreakers: Seq[String] = Nil): DataFrame = {
    // hash CONTENT columns only — tie-breakers are ordering metadata
    // (e.g. upsert's source-priority tag); including them would make the
    // within-batch duplicate pick depend on which pass added the tag and
    // break re-upsert idempotence (caught by PropertySpec)
    val contentCols = df.columns.filterNot(tieBreakers.contains).sorted
    val contentHash = xxhash64(contentCols.map(col).toIndexedSeq: _*)
    val order = (col(versionCol).desc +: tieBreakers.map(col(_).desc)) :+ contentHash.asc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Upsert `incoming` into the parquet table at `path`: union existing
    * with incoming, keep the newest row per key, rewrite. On `versionCol`
    * ties the INCOMING row wins (source-priority tie-break) — true
    * last-write-wins, like the reference's `ON CONFLICT DO UPDATE`.
    * Idempotent — re-upserting the same batch is a no-op
    * (property-tested).
    */
  def upsert(spark: SparkSession, path: String, incoming: DataFrame,
             keys: Seq[String], versionCol: String): Unit = {
    val merged =
      if (tableExists(spark, path)) {
        val existing = graft.Tables.read(spark, path).withColumn("__src_pri", lit(0))
        val fresh = incoming.withColumn("__src_pri", lit(1))
        latestWins(existing.unionByName(fresh, allowMissingColumns = true),
          keys, versionCol, tieBreakers = Seq("__src_pri"))
          .drop("__src_pri")
      } else latestWins(incoming, keys, versionCol)
    overwriteInPlace(spark, path, merged)
  }

  /** Insert-if-absent (ON CONFLICT DO NOTHING): append only rows whose
    * key is not already present. Set-oriented — one anti-join instead of
    * the reference's per-row SELECT-then-INSERT (`series_builder.py:5-61`). */
  def insertIfAbsent(spark: SparkSession, path: String, incoming: DataFrame,
                     keys: Seq[String]): Unit = {
    val deduped = incoming.dropDuplicates(keys)
    if (!tableExists(spark, path)) {
      deduped.write.mode(SaveMode.Overwrite).parquet(path)
    } else {
      val existing = graft.Tables.read(spark, path).select(keys.map(col): _*)
      deduped.join(broadcast(existing), keys, "left_anti")
        .write.mode(SaveMode.Append).parquet(path)
    }
  }

  /** Delete-then-reload refresh (`gie/service.py:35-76`): drop every fact
    * row whose key appears in `deleteKeys`, then union the replacement
    * rows. The delete is a broadcast anti-join (the delete key set is a
    * dimension slice, small by construction). */
  def deleteRefresh(spark: SparkSession, path: String, deleteKeys: DataFrame,
                    keys: Seq[String], replacement: DataFrame): Unit = {
    val merged =
      if (tableExists(spark, path)) {
        graft.Tables.read(spark, path)
          .join(broadcast(deleteKeys.select(keys.map(col): _*).distinct()),
            keys, "left_anti")
          .unionByName(replacement, allowMissingColumns = true)
      } else replacement
    overwriteInPlace(spark, path, merged)
  }

  /** Overwrite `path` with `df` safely: the plan reads from `path`, so
    * write to a staging dir first, then swap. The old table is moved to a
    * `.backup` sibling (not deleted) before the staging rename, every
    * rename result is checked (`FileSystem.rename` signals failure by
    * returning false, not by throwing), and the backup is restored if the
    * final rename fails — no window where a crash loses the table's
    * BYTES. The one non-atomic window (between the two renames: `dst`
    * absent, old table in `.backup`, new table in `.staging`) is closed
    * by [[recoverSwap]], which every warehouse entry point runs first.
    * (With a real catalog this is `INSERT OVERWRITE` + dynamic partition
    * overwrite; the swap keeps plain-parquet tests honest.) */
  private[graft] def overwriteInPlace(spark: SparkSession, path: String, df: DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    recoverSwap(spark, path)
    val staging = new Path(path + ".staging")
    df.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      staging.toUri, spark.sparkContext.hadoopConfiguration)
    val dst = new Path(path)
    val backup = new Path(path + ".backup")
    withSwapLock(path) {
      fs.delete(backup, true)
      if (fs.exists(dst) && !fs.rename(dst, backup))
        throw new java.io.IOException(s"overwriteInPlace: rename $dst -> $backup failed")
      if (!fs.rename(staging, dst)) {
        if (fs.exists(backup)) fs.rename(backup, dst) // best-effort restore
        throw new java.io.IOException(s"overwriteInPlace: rename $staging -> $dst failed")
      }
      fs.delete(backup, true)
    }
  }

  private val swapLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The process-local lock on `path`'s swap: [[overwriteInPlace]] holds
    * it across its two renames, and [[recoverSwap]] takes it before
    * repairing, so a reader never rolls a live in-process writer's swap
    * forward between them (the writer's second rename would then fail).
    * A crashed writer's swap is repaired as before: nothing holds its
    * lock. */
  private[graft] def withSwapLock[A](path: String)(body: => A): A =
    swapLocks.computeIfAbsent(new org.apache.hadoop.fs.Path(path).toString, _ => new Object)
      .synchronized(body)

  /** Complete an interrupted [[overwriteInPlace]] swap (the Stage.ensure
    * crash-consistency contract, applied to the warehouse tables): when
    * `path` is missing, either roll FORWARD to the staged table —
    * `.staging` carrying Spark's `_SUCCESS` commit marker is a complete
    * write, exactly Stage's marker rule — or roll BACK to `.backup`.
    * Idempotent and cheap (two existence probes when healthy); runs at
    * the head of [[tableExists]] so every warehouse read-modify-write
    * AND the serving edge's existence probe self-heal before touching
    * the table. A crash can therefore cost at most the interrupted
    * batch, never the table. */
  private[graft] def recoverSwap(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dst = new Path(path)
    if (fs.exists(dst)) return // the warm path takes no lock
    withSwapLock(path) {
      // re-check: an in-process writer may have just finished its swap
      if (!fs.exists(dst)) {
        val staging = new Path(path + ".staging")
        val backup = new Path(path + ".backup")
        if (fs.exists(new Path(staging, "_SUCCESS"))) {
          if (!fs.rename(staging, dst))
            throw new java.io.IOException(s"recoverSwap: rename $staging -> $dst failed")
          fs.delete(backup, true)
        } else if (fs.exists(backup)) {
          if (!fs.rename(backup, dst))
            throw new java.io.IOException(s"recoverSwap: rename $backup -> $dst failed")
          fs.delete(staging, true)
        }
      }
    }
  }

  private[graft] def tableExists(spark: SparkSession, path: String): Boolean = {
    recoverSwap(spark, path) // self-heal an interrupted swap (see doc)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(path))
  }
}
