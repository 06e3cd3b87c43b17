package graft

import org.apache.spark.sql.SparkSession

/** One place for session-construction config shared by Bench, Verify and
  * the test suite, so session-wide semantics (UTC, legacy nanos parquet
  * reads) are set exactly once at construction — never mutated at read
  * time inside a loader, which would leak into concurrent queries.
  */
object Sessions {
  /** Entries in Spark's JVM-wide cache of Janino-compiled classes
    * (whole-stage stages, projections, predicates, orderings), set as
    * `spark.sql.codegen.cache.maxEntries` by [[configure]]. Spark's
    * default is 100. One cold pass of the perfbench analytics slice
    * (13 queries) compiles 154 distinct classes, so at 100 every warm
    * pass evicted and recompiled ~125 of them at 5–35 ms each. 1000
    * holds about six slice working sets. It is a bound, not "all": a
    * full pass over the 366 queries compiles ~4,000 classes, and the
    * serving edge mints a class per distinct literal window, so the
    * bound caps the metaspace a long-running JVM keeps for classes it
    * will not reuse (a cached class costs a few KB of metaspace).
    * The conf is STATIC: Spark reads it once per JVM, when the cache is
    * first touched, so it only takes effect through session
    * construction — `spark.conf.set` refuses it at runtime. */
  val CodegenCacheBound = 1000

  /** Engine configs every graft session needs. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    // Early-vintage events.parquet carried TIMESTAMP(NANOS); the
    // vectorized reader refuses it unless nanos are surfaced as raw longs
    // (Tables.events truncates them to micros, matching DuckDB's read of
    // the same file). Current datasets are TIMESTAMP(MICROS), where this
    // conf is inert — kept so both vintages read (see Tables.events).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // keep catalog artifacts (bucketed-table demos) out of the repo tree
    // Spark 4 routes upper/lower through ICU case mappings even for
    // UTF8_BINARY; the first executor call pays a CollationAwareUTF8String
    // static init that enumerates every Unicode codepoint (minutes of CPU
    // under load — observed stalling a bench pass), and per-row ICU casing
    // is slower than JVM casing thereafter. JVM casing matches DuckDB
    // exactly on this corpus (ASCII) and on any ASCII slug/key data; the
    // engine's normalize operators only target such keys.
    .config("spark.sql.icu.caseMappings.enabled", "false")
    // a static conf: it must be set here, at construction
    .config("spark.sql.codegen.cache.maxEntries", CodegenCacheBound.toString)
    // Spark keys that cache on the thread's context class loader as well
    // as the source (`CodeGenerator.compile`). With artifact isolation on
    // (Spark's default) every `newSession()` clone, and the clone each
    // `StreamExecution` makes of it, gets its own artifact state and
    // class loader, so a drain's classes (MicroBatch.withStreamSession)
    // missed the cache on every run: a warm `q_st_static_join` compiled
    // 9 classes, 0 with isolation off. The engine adds no session
    // artifacts (no addArtifact or addJar), so one shared loader loses
    // nothing. Spark reads the conf when a session is created, so it is
    // set here and every clone inherits it.
    .config("spark.sql.artifact.isolation.enabled", "false")
    .config("spark.sql.warehouse.dir",
      s"${sys.props("java.io.tmpdir")}/graft-warehouse")
    .config("javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=${sys.props("java.io.tmpdir")}/graft-metastore;create=true")
    .config("spark.ui.enabled", "false")

  /** Standard local session: `local[cpus]`, shuffle.partitions = cpus.
    * Built with [[graft.functions.GraftExtensions]] so the session
    * carries the SQL-callable custom functions AND the injected
    * optimizer rule ([[graft.plans.UnwrapStringCast]]) from
    * construction — `injectOptimizerRule` has no post-hoc registration
    * path, unlike function registration. */
  def local(cpus: String, appName: String): SparkSession = {
    val s = configure(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .withExtensions(new graft.functions.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate()
    Tables.registerFunctions(s) // the one registry list — see Tables
    s
  }
}
