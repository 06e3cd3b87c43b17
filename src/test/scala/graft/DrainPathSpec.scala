package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One drain path: every streaming query in `src/main/scala` starts in
  * `streaming/MicroBatch.scala` (the drains, which own the session
  * clone, the trigger, the stop and the checkpoint clean-up) or in
  * `streaming/Scheduler.scala` (the long-running ingest loop), and no
  * drain collects its output into a driver-side memory sink. These
  * guards fail with file:line for a `.writeStream` anywhere else and
  * for a `format("memory")` anywhere in `src/main` (specs may keep
  * their own memory sinks). */
class DrainPathSpec extends AnyFunSuite {

  private val allowed = Seq("streaming/MicroBatch.scala", "streaming/Scheduler.scala")

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  /** (file relative to [[root]], line number, line) of every line
    * holding `needle`. */
  private def sites(needle: String): Vector[(String, Int, String)] = {
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    assert(files.size > 50, s"no sources under $root")
    for {
      f <- files
      rel = root.relativize(f).toString
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n", -1).zipWithIndex
      if line.contains(needle)
    } yield (rel, i + 1, line.trim)
  }

  private def listed(found: Seq[(String, Int, String)]): String =
    found.map { case (f, l, line) => s"src/main/scala/graft/$f:$l: $line" }.mkString("\n", "\n", "")

  test("every writeStream in src/main is in MicroBatch or Scheduler") {
    val found = sites(".writeStream")
    val unlisted = found.filterNot { case (f, _, _) => allowed.contains(f) }
    assert(unlisted.isEmpty,
      "streaming writes outside MicroBatch and Scheduler:" + listed(unlisted))
    // each allowed file still starts a stream: the list cannot go stale
    allowed.foreach { f =>
      assert(found.exists(_._1 == f), s"$f: no .writeStream left; drop it from the list")
    }
  }

  test("no drain in src/main collects its rows into a driver memory sink") {
    val found = sites("format(\"memory\")")
    assert(found.isEmpty, "memory sinks in src/main:" + listed(found))
  }
}
