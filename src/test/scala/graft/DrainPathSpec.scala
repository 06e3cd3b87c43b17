package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One drain path: every streaming query in `src/main/scala` starts in
  * `streaming/MicroBatch.scala` (the drains, which own the session
  * clone, the trigger, the stop and the checkpoint clean-up) or in
  * `streaming/Scheduler.scala` (the long-running ingest loop). This
  * guard fails with file:line for a `.writeStream` anywhere else. */
class DrainPathSpec extends AnyFunSuite {

  private val allowed = Seq("streaming/MicroBatch.scala", "streaming/Scheduler.scala")

  test("every writeStream in src/main is in MicroBatch or Scheduler") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally s.close()
    }
    assert(files.size > 50, s"no sources under $root")
    // (file, line number, line) of every writeStream
    val sites = for {
      f <- files
      rel = root.relativize(f).toString
      (line, i) <- new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .split("\n", -1).zipWithIndex
      if line.contains(".writeStream")
    } yield (rel, i + 1, line.trim)
    val unlisted = sites.filterNot { case (f, _, _) => allowed.contains(f) }
    assert(unlisted.isEmpty, unlisted.map { case (f, l, line) =>
      s"src/main/scala/graft/$f:$l: $line" }.mkString(
      "streaming writes outside MicroBatch and Scheduler:\n", "\n", ""))
    // each allowed file still starts a stream: the list cannot go stale
    allowed.foreach { f =>
      assert(sites.exists(_._1 == f), s"$f: no .writeStream left; drop it from the list")
    }
  }
}
