package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (TESTDATA.md), and
  * the one resolver every parquet read in the engine goes through.
  *
  * All engine queries read through here so that schema assumptions and
  * scan-level tuning (pushdown verification, maxPartitionBytes at real
  * scale) live in one place. At 100 TB these would be catalog tables
  * partitioned by date / bucketed by join key; on the test harness they
  * are single parquet files.
  *
  * Table resolution ([[resolve]], [[read]]): a plain
  * `spark.read.parquet(path)` runs Spark's schema-inference job (a job
  * that reads parquet footers) on every call. The resolver keeps, per
  * session and per table path, the sorted `(path, length, mtime)` file
  * listing (a `listStatus` walk that forks no process) and the schema
  * Spark inferred for that listing. While the listing is unchanged, a
  * read is `spark.read.schema(cached).parquet(path)`: no job, the same
  * plan. Any write changes the listing (new part-file names, a swap, an
  * append, a staged publish), so the next read re-infers and sees the
  * new schema and rows. The listing is taken BEFORE the inference: a
  * racing write then costs one extra inference, never a stale schema.
  *   - Every [[read]] is a fresh frame with new expression ids, so
  *     DataFrame-API self-joins stay unambiguous.
  *   - The cache is keyed on the session (weakly): a schema depends on
  *     session confs (`nanosAsLong` turns a TIMESTAMP(NANOS) column into
  *     a long), so no session reuses another's inference.
  *   - The serving edge keeps one frame per resolved listing on top of
  *     this ([[graft.serving.QueryServer]]).
  *   - Three reads stay outside, each with its reason at the site: the
  *     streaming source (`MicroBatch.readEvents`, no batch inference to
  *     skip), the explicit file-list read (`LayoutQueries` min/max
  *     pruning, not a table path) and the `mergeSchema` read (`Parity`
  *     schema evolution, whose point is the merge). `ReadPathSpec`
  *     fails on any other `read.parquet` in `src/main/scala`.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Engine functions ride along with the tables: every query path goes
    * through a table accessor, so vec_dot etc. are always resolvable
    * (sessions built with GraftExtensions get them at construction
    * instead). Both paths read the one list, `GraftExtensions.functions`.
    * Idempotent; the accessors run it once per session (see [[tablesOf]]). */
  private[graft] def registerFunctions(spark: SparkSession): Unit =
    graft.functions.GraftExtensions.functions.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }

  /** Staged-artifact tag for SF dir `d`: the sanitized path plus a
    * 12-hex content fingerprint (MD5 over the sorted recursive file
    * listing — path, size, mtime; no data read, O(#files)). Every
    * derived artifact staged under java.io.tmpdir keys its path on this,
    * so a regenerated dataset under the same path — or two distinct dirs
    * whose sanitized names collide (`sf0.1` vs `sf0_1`) — can never
    * silently reuse a stale base and fail its oracle confusingly. */
  def stageTag(d: String): String = stageTagCache.computeIfAbsent(d, { dir =>
    val md = java.security.MessageDigest.getInstance("MD5")
    def walk(f: java.io.File): Unit =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(walk)
      else md.update(s"${f.getPath}|${f.length}|${f.lastModified}\n".getBytes("UTF-8"))
    walk(new java.io.File(dir))
    val fp = md.digest().map("%02x".format(_)).mkString.take(12)
    dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + fp
  })
  private val stageTagCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A table at one file listing and the schema inferred for it. */
  final class Resolved private[Tables] (val path: String,
                                        private[Tables] val listing: Vector[(String, Long, Long)],
                                        val schema: StructType) {
    /** A fresh frame over the table; runs no Spark job. */
    def read(spark: SparkSession): DataFrame = spark.read.schema(schema).parquet(path)
  }

  // per session (weakly held: a dropped session frees its entries), per path
  private val sessions = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Resolved]]())

  /** The session's resolved tables; the first call for a session also
    * registers the engine functions on it. */
  private def tablesOf(spark: SparkSession): ConcurrentHashMap[String, Resolved] =
    sessions.computeIfAbsent(spark, { s =>
      registerFunctions(s)
      new ConcurrentHashMap[String, Resolved]()
    })

  /** The parquet table at `path` at its current file listing (see the
    * object doc). A missing path lists empty, and the inference raises
    * Spark's own error for it. */
  def resolve(spark: SparkSession, path: String): Resolved = {
    val tables = tablesOf(spark)
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)
    // a listStatus walk, not listFiles: the local FS builds each
    // LocatedFileStatus by forking `ls` for the file's permissions
    val files = Vector.newBuilder[(String, Long, Long)]
    def walk(d: Path): Unit = fs.listStatus(d).foreach { f =>
      if (f.isDirectory) walk(f.getPath)
      else files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    try walk(dir) catch { case _: java.io.FileNotFoundException => }
    val listing = files.result().sorted
    Option(tables.get(path)).filter(_.listing == listing).getOrElse {
      val fresh = new Resolved(path, listing, spark.read.parquet(path).schema)
      tables.put(path, fresh)
      fresh
    }
  }

  /** `spark.read.parquet(path)` without the per-call schema inference. */
  def read(spark: SparkSession, path: String): DataFrame = resolve(spark, path).read(spark)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") events(spark, sfDir)
    else read(spark, s"$sfDir/$name.parquet")

  /** events.parquet vintage shim. Early driver datasets stored `ts` as
    * parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects that
    * outright ([PARQUET_TYPE_ILLEGAL]) unless
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set at session
    * construction, [[Sessions.configure]]) reads the raw nanos long,
    * which we truncate to microseconds like DuckDB does. Current driver
    * datasets store TIMESTAMP(MICROS), which reads natively as
    * TIMESTAMP_NTZ; we cast that to TimestampType so every downstream
    * consumer (watermarks, window frames, java.sql.Timestamp decoders)
    * sees the one timestamp type the engine is written against — with
    * the session pinned to UTC ([[Sessions.configure]]) the cast is an
    * identity on the stored microseconds, exactly how DuckDB reads the
    * same file. Dispatch on the LOADED type, not the path: the same code
    * serves both vintages, and a regenerated dataset can never resurrect
    * the [DATATYPE_MISMATCH] breakage.
    */
  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    try read(spark, s"$sfDir/events.parquet")
    catch {
      case e: Throwable if Option(e.getMessage).exists(_.contains("PARQUET_TYPE_ILLEGAL")) =>
        throw new IllegalStateException(
          s"events.parquet at $sfDir uses parquet TIMESTAMP(NANOS); this session " +
            "was not built with spark.sql.legacy.parquet.nanosAsLong=true. Build the " +
            "session via graft.Sessions.configure, which sets it.", e)
    }

  def region(spark: SparkSession, d: String): DataFrame = load(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame = load(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame = load(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame = load(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame = load(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame = load(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame = load(spark, d, "lineitem")
  def events(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val raw = eventsRaw(spark, d)
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-as-long vintage
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType => // MICROS vintage
        // Explicit TimestampType (LTZ), independent of spark.sql.timestampType:
        // with the session pinned to UTC the cast is exact on the stored micros.
        raw.withColumn("ts", raw("ts").cast(org.apache.spark.sql.types.TimestampType))
      case org.apache.spark.sql.types.TimestampType => raw
      case other =>
        throw new IllegalStateException(
          s"events.parquet ts column loaded as unsupported type $other; supported " +
            "vintages are TIMESTAMP(NANOS)-as-long (needs Sessions.configure) and " +
            "TIMESTAMP(MICROS)/TIMESTAMP_LTZ")
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = load(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = load(spark, d, "embeddings")
}
