package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftExtensions

/** The one function list serves both registration paths: a session
  * built with the extension alone — no [[Tables.registerFunctions]]
  * call — resolves every function the list names. */
class GraftExtensionsSpec extends SparkSpec {

  test("every listed function resolves in a session built with GraftExtensions only") {
    val shared = spark
    // a fresh session on the shared SparkContext, restored afterwards so
    // later specs keep resolving the shared session as the active one
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val extOnly =
      try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        SparkSession.setActiveSession(shared)
        SparkSession.setDefaultSession(shared)
      }
    assert(extOnly ne shared)
    val registry = extOnly.sessionState.functionRegistry
    val missing = GraftExtensions.functions.map(_._1).filterNot(registry.functionExists)
    assert(missing.isEmpty, s"not injected: ${missing.mkString(", ")}")
    // callable from SQL, not only listed
    val rows = extOnly.sql(
      "SELECT inline(heavy_hitters(w, 10)) FROM VALUES ('a'), ('a'), ('b') AS t(w)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq(("a", 2L), ("b", 1L)))
  }
}
