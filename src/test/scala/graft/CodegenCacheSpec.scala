package graft

import org.apache.spark.sql.functions.{col, lit}

/** A warm query compiles nothing: its generated classes stay in Spark's
  * JVM-wide codegen cache (bounded by [[Sessions.CodegenCacheBound]]),
  * and its plan emits the same source on every run, on the base session
  * and on a drain's session clones alike. Compiles are read from
  * Spark's `CodegenMetrics` counter ([[Bench.compiles]]). */
class CodegenCacheSpec extends SparkSpec {

  /** Classes compiled by one run of `q`. */
  private def compilesOf(q: String): Long = {
    val c0 = Bench.compiles()
    try SparkEntry.queries(q)(spark, sf).count()
    finally spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    Bench.compiles() - c0
  }

  test("a query's classes outlive more than Spark's default 100 newer compiles") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      Sessions.CodegenCacheBound.toString)
    val first = "q_tpch_q6"
    compilesOf(first)
    val start = Bench.compiles()
    Seq("q_f1_flagship_page", "q_ag_anova", "q_tx_fingerprint", "q_dd_exact",
      "q_sim_linear_probe", "q_t1_asof_join", "q_ds_kanon", "q_sm_stratified",
      "q_tp_pack", "q_ly_zorder").foreach(compilesOf)
    // Earlier specs may have cached some of those classes already, so top
    // up with classes no run can have cached: a long literal is inlined
    // into the generated source, so each salted filter compiles anew.
    val salt = System.nanoTime()
    var i = 0L
    while (Bench.compiles() - start <= 120) {
      spark.range(4).filter(col("id") =!= lit(salt + i)).count()
      i += 1
    }
    assert(compilesOf(first) == 0)
  }

  test("a warm re-run of the graph fixpoint loops compiles no class") {
    for (q <- Seq("q_gr_scc", "q_gr_kcore")) {
      compilesOf(q)
      assert(compilesOf(q) == 0, q)
    }
  }

  test("a warm re-run of a drain compiles no class") {
    // one class loader for every session: clones share the cache entries
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    // a stateless drain and a RocksDB transformWithState drain
    for (q <- Seq("q_st_static_join", "q_st_anomaly_v2")) {
      compilesOf(q)
      assert(compilesOf(q) == 0, q)
    }
  }
}
