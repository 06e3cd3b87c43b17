package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One clock for the whole run: milliseconds since the run started, as
  * doubles. Spark listener events carry epoch milliseconds; [[fromEpochMs]]
  * maps them onto the same axis (1 ms resolution). */
object Clock {
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - t0EpochMs).toDouble
}

/** In-memory span recorder. A span is (id, parent, op, name, start, end);
  * `op` is the operation (request, ingest or query) it belongs to. Spans are
  * only recorded while [[on]] is set, and written out when the run ends. */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        start: Double, end: Double)
  @volatile var on: Boolean = false
  /** Operation and span the fixture's handler threads attach to. */
  @volatile var currentOp: Long = 0L
  @volatile var currentParent: Long = 0L
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, op: Long, name: String,
             start: Double, end: Double): Unit =
    if (on) spans.add(Span(id, parent, op, name, start, end))

  /** Time `f` as span `name` under `parent`; returns f's value. */
  def span[A](name: String, parent: Long, op: Long)(f: Long => A): A = {
    val id = newId()
    val s = Clock.nowMs
    try f(id) finally record(id, parent, op, name, s, Clock.nowMs)
  }

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start" -> s.start, "end" -> s.end)
  }
}

/** Counts job starts and ends on Spark's listener bus so the harness can
  * wait until every event of the last operation has been delivered before
  * it attaches or detaches the tracing listener. */
final class JobGate extends SparkListener {
  private val started = new AtomicInteger(0)
  private val ended = new AtomicInteger(0)
  @volatile private var lastEvent = System.nanoTime()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet(); lastEvent = System.nanoTime()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    ended.incrementAndGet(); lastEvent = System.nanoTime()
  }
  /** Block until no job is open and the bus has been quiet for 30 ms
    * (at most 3 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    while (System.nanoTime() < deadline &&
      (started.get() != ended.get() || System.nanoTime() - lastEvent < 30000000L))
      Thread.sleep(5)
  }
}

/** The engine layer as Spark's public listener bus reports it: job
  * intervals and per-stage task metrics. Attached only around traced
  * operations. */
final class EngineListener extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Seq[Int])]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (Clock.fromEpochMs(e.time), e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (start, stageIds) =>
      jobs.add(Map("id" -> e.jobId, "start" -> start,
        "end" -> Clock.fromEpochMs(e.time), "stages" -> stageIds,
        "ok" -> (e.jobResult == JobSucceeded)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val base = Map[String, Any](
      "id" -> si.stageId, "attempt" -> si.attemptNumber(),
      "start" -> si.submissionTime.map(Clock.fromEpochMs).getOrElse(null),
      "end" -> si.completionTime.map(Clock.fromEpochMs).getOrElse(null),
      "tasks" -> si.numTasks)
    val metrics =
      if (m == null) Map.empty[String, Any]
      else Map[String, Any](
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input" -> m.inputMetrics.bytesRead,
        "output" -> m.outputMetrics.bytesWritten)
    stages.add(base ++ metrics)
  }

  def jobList: Seq[Map[String, Any]] = jobs.asScala.toSeq
  def stageList: Seq[Map[String, Any]] = stages.asScala.toSeq
}

/** Fixed CPU loop timed at run start: recorded beside the walls so a slow
  * host phase can be told apart from a code change. Median of 5 reps. */
object Calib {
  def ms(): Double = {
    val reps = (1 to 5).map { _ =>
      val t = System.nanoTime()
      var x = 88172645463325252L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("")
      (System.nanoTime() - t) / 1e6
    }.sorted
    reps(2)
  }
}

/** Peak heap across the run (sum of the heap pools' peak usage). */
object Heap {
  def peakMb: Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0
}
