package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One read path: every parquet read in `src/main/scala` goes through
  * [[Tables.read]] / [[Tables.resolve]], which infer a table's schema
  * once per file listing. A plain `read.parquet` re-runs the inference
  * job on every call. This guard fails with file:line for any parquet
  * read outside `Tables.scala` that is not one of the allowed sites
  * below. */
class ReadPathSpec extends AnyFunSuite {

  /** (file under src/main/scala/graft, text at the site, reason). */
  private val allowed = Seq(
    ("streaming/MicroBatch.scala", "spark.readStream.schema(schemaFrom.schema)",
      "a streaming source: its schema is given, there is no batch inference"),
    ("queries/LayoutQueries.scala", "s.read.parquet(files.toIndexedSeq: _*)",
      "an explicit pruned file list, not a table path"),
    ("queries/Parity.scala", "s.read.option(\"mergeSchema\", \"true\").parquet(root)",
      "schema evolution: the merged schema across generations is the point"))

  // `.read` or `.readStream`, then `.parquet(` in the same expression
  // (no blank line and no `.write` in between)
  private val parquetRead =
    """\.read(?:Stream)?(?=\.)(?:(?!\.write\b|\n\s*\n)[\s\S]){0,200}?\.parquet\(""".r

  test("every parquet read in src/main goes through Tables, except three listed sites") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    assert(files.size > 50, s"no sources under $root")
    // (file, line number, line) of every parquet read
    val sites = for {
      f <- files
      rel = root.relativize(f).toString
      if rel != "Tables.scala"
      text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
      lines = text.split("\n", -1)
      m <- parquetRead.findAllMatchIn(text)
      line = text.take(m.start).count(_ == '\n')
    } yield (rel, line + 1, lines(line).trim)
    val hits = allowed.map { case (file, site, _) =>
      sites.filter { case (f, _, line) => f == file && line.contains(site) }
    }
    val unlisted = sites.filterNot(s => hits.exists(_.contains(s)))
    assert(unlisted.isEmpty, unlisted.map { case (f, l, line) =>
      s"src/main/scala/graft/$f:$l: $line" }.mkString(
      "parquet reads outside Tables.read:\n", "\n", ""))
    // each allowed site is still there, once: the list cannot go stale
    allowed.zip(hits).foreach { case ((file, site, _), h) =>
      assert(h.size === 1, s"$file: expected one site `$site`, found ${h.size}")
    }
  }
}
