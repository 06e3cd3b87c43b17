package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: runs one workload in a fresh `local[cpus]` session and
  * writes every raw observation (operations, spans, Spark job and stage
  * events, counters, set-up times) as one JSON file. `perfbench/run.py`
  * builds this, runs it, and turns the file into metrics.
  *
  * {{{
  * perfbench.Main --workload W --seed N --seconds S --trace 0|1 --cpus C
  *                --work DIR --data SF_DIR --out FILE
  * perfbench.Main --oracles FILE      # the analytics slice's oracle SQL
  * perfbench.Main --selftest 1        # model and response-checker checks
  * }}}
  */
object Main {
  final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
                       cpus: Int, work: String, data: String)

  /** Set-up is repeated this many times per run; run.py reports the
    * median. The first repetition runs cold (first Spark jobs, JIT), so
    * the median is a warm one. */
  val StageReps = 3
  /** `serve_read` open-loop request rate (req/s): between a quarter and a
    * third of the closed-loop capacity measured with 4 clients on a 4-core
    * host (7.5–9 req/s median). At half capacity a slow host phase raised
    * concurrency and with it latency, doubling the run-to-run spread of
    * the open-loop latency. */
  val ServeRate = 2.5

  private var gate: JobGate = _
  private var engine: EngineListener = _

  /** Run `body` as one operation of a traced run: wait until the listener
    * bus is idle, attach the engine listener and record spans only when
    * `traced`, and wait again before detaching so every job event of the
    * operation is kept. */
  def traced[A](spark: SparkSession, traced: Boolean)(body: => A): A = {
    gate.quiesce()
    if (traced) { spark.sparkContext.addSparkListener(engine); Trace.on = true }
    try body
    finally if (traced) {
      Trace.on = false
      gate.quiesce()
      spark.sparkContext.removeSparkListener(engine)
    }
  }

  /** Run one operation twice in a row, traced and untraced. Which of the
    * two runs first follows the parity of `pair`, so the warmer second run
    * does not bias the tracing overhead either way. */
  def pair[A](spark: SparkSession, pair: Long)(op: Boolean => A): Seq[A] =
    (if (pair % 2 == 1) Seq(true, false) else Seq(false, true)).map(on => traced(spark, on)(op(on)))

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    if (a.contains("selftest")) return SelfTest.run()
    a.get("oracles") match {
      case Some(out) =>
        AnalyticsSlice.checkSlice()
        write(out, Map("oracles" -> AnalyticsSlice.oracles))
        return
      case None =>
    }
    val ctx = Ctx(a("workload"), a("seed").toLong, a("seconds").toInt, a("trace") == "1",
      a("cpus").toInt, a("work"), a("data"))
    val calibMs = Calib.ms()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local(ctx.cpus.toString, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    if (ctx.trace) {
      gate = new JobGate
      engine = new EngineListener
      spark.sparkContext.addSparkListener(gate)
    }
    val t0 = Clock.nowMs
    val result =
      try ctx.workload match {
        case "serve_read" => ServeRead.run(spark, ctx)
        case "analytics_slice" => AnalyticsSlice.run(spark, ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      finally Trace.on = false
    val out = result ++ Map(
      "workload" -> ctx.workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> ctx.trace, "cpus" -> ctx.cpus, "session_s" -> sessionS,
      "calib_ms" -> calibMs, "heap_peak_mb" -> Heap.peakMb,
      "run_ms" -> (Clock.nowMs - t0),
      "spans" -> Trace.all,
      "jobs" -> Option(engine).map(_.jobList).getOrElse(Nil),
      "stages" -> Option(engine).map(_.stageList).getOrElse(Nil))
    write(a("out"), out)
    spark.stop()
  }

  private def write(path: String, v: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(path), v)
}
