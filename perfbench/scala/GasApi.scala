package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.{Instant, LocalDate}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Closed-form gas-quality series: every value is a pure function of
  * (seed, site, metric, time, revision), so any check can recompute what
  * the warehouse must hold.
  *
  * A point at time t first appears on the day of t. Each later day j on
  * which it is re-published carries a revision with probability `revShare`
  * (decided by a hash of seed, site, metric, t and j). The value as of day
  * `asOf` uses the number of revisions on days (day(t), asOf].
  */
final case class GasModel(seed: Long, sites: Int, perDay: Int, revShare: Double) {
  val metrics: Seq[String] = graft.sources.v2.ChunkedRestSource.Metrics
  val stepSec: Long = 86400L / perDay
  private val base = Map("WOBBE" -> 49.0, "CV" -> 38.5, "SG" -> 0.55)

  def siteName(i: Int): String = f"SITE$i%02d"
  def siteNames: Seq[String] = (1 to sites).map(siteName)
  /** The warehouse's series id for (site, metric): NG_<dataset>_<site>_<metric>. */
  def seriesId(site: String, metric: String): String =
    s"NG_GAS_QUALITY_${site}_$metric"
  def allSeries: Seq[String] =
    (for (s <- siteNames; m <- metrics) yield seriesId(s, m)).sorted

  private def mix(h0: Long, x: Long): Long = {
    var h = (h0 ^ x) * 0x9E3779B97F4A7C15L
    h ^= h >>> 32; h *= 0xD6E8FEB86659FD93L; h ^= h >>> 32
    h
  }
  private def key(site: Int, metric: Int, t: Long): Long =
    mix(mix(mix(seed, site.toLong), metric.toLong), t)

  /** Revisions of the point at epoch second `t` published by day `asOf`. */
  def revision(site: Int, metric: Int, t: Long, asOf: Long): Int = {
    val k = key(site, metric, t)
    var n = 0
    var j = Math.floorDiv(t, 86400L) + 1
    while (j <= asOf) {
      if ((mix(k ^ 0x5851F42D4C957F2DL, j) >>> 11) * (1.0 / (1L << 53)) < revShare) n += 1
      j += 1
    }
    n
  }

  /** Value of the point with the given revision: base(metric) plus a
    * hashed offset in 1e-4 steps, so its decimal text round-trips. */
  def value(site: Int, metric: Int, t: Long, rev: Int): Double = {
    val h = mix(key(site, metric, t), rev.toLong + 1)
    val units = java.lang.Long.remainderUnsigned(h, 20000L)
    (Math.round(base(metrics(metric - 1)) * 10000) + units) / 10000.0
  }

  def valueAsOf(site: Int, metric: Int, t: Long, asOf: Long): Double =
    value(site, metric, t, revision(site, metric, t, asOf))

  /** Epoch seconds of every point on epoch day `day`. */
  def times(day: Long): Iterator[Long] =
    Iterator.range(0, perDay).map(k => day * 86400L + k * stepSec)
}

/** Loopback stand-in for the gas-quality REST API that
  * `graft.sources.v2.ChunkedRestSource` reads: `GET /gas-quality?from=
  * <date>&toExclusive=<date>` answers the `{"data":[{applicableAt, site,
  * metric, value}, ...]}` envelope for every point in the window, as
  * published by day [[asOfDay]]. Counts requests, response bytes and
  * handler busy time; in a traced operation each request is a
  * `sources.fixture_chunk` span. */
final class GasApi(model: GasModel, threads: Int) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  @volatile var asOfDay: Long = 0L
  val requests = new AtomicLong(0L)
  val bytes = new AtomicLong(0L)
  val busyNanos = new AtomicLong(0L)

  server.setExecutor(pool)
  server.createContext("/gas-quality", (x: HttpExchange) => handle(x))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/gas-quality"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(x: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val s0 = Clock.nowMs
    val op = Trace.currentOp
    val parent = Trace.currentParent
    try {
      val params = Option(x.getRequestURI.getRawQuery).getOrElse("").split("&")
        .flatMap(_.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None })
        .toMap
      val from = LocalDate.parse(params("from")).toEpochDay
      val to = math.min(LocalDate.parse(params("toExclusive")).toEpochDay, asOfDay + 1)
      val sb = new StringBuilder("{\"data\":[")
      var first = true
      for (day <- from until to; t <- model.times(day);
           s <- 1 to model.sites; m <- 1 to model.metrics.size) {
        if (!first) sb.append(',')
        first = false
        sb.append("{\"applicableAt\":\"").append(Instant.ofEpochSecond(t))
          .append("\",\"site\":\"").append(model.siteName(s))
          .append("\",\"metric\":\"").append(model.metrics(m - 1))
          .append("\",\"value\":").append(model.valueAsOf(s, m, t, asOfDay)).append('}')
      }
      sb.append("]}")
      val body = sb.toString.getBytes(StandardCharsets.UTF_8)
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(200, body.length.toLong)
      val os = x.getResponseBody
      try os.write(body) finally os.close()
      bytes.addAndGet(body.length.toLong)
    } catch {
      case e: Exception =>
        x.sendResponseHeaders(500, -1)
        System.err.println(s"gas fixture: $e")
    } finally {
      x.close()
      requests.incrementAndGet()
      busyNanos.addAndGet(System.nanoTime() - t0)
      Trace.record(Trace.newId(), parent, op, "sources.fixture_chunk", s0, Clock.nowMs)
    }
  }
}
