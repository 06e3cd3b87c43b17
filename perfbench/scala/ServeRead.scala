package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.serving.QueryServer
import graft.warehouse.Ingest

/** `serve_read`: API callers' traffic against a `QueryServer` over a
  * warehouse built in set-up by the refresh path (a backfill and one
  * refresh tick). A closed-loop capacity phase with `clients` clients,
  * then an open-loop phase at a fixed rate (each request timed from its
  * due time). */
object ServeRead {
  val Routes: Seq[String] =
    Seq("data_series", "data_page", "export_csv", "discovery_sample", "discovery_raw")
  private val PageRows = 200
  private val mapper = new ObjectMapper()
  private val TsParam = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  private val TsCsv = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(ZoneOffset.UTC)

  /** One request: its path, whether its body is checked point by point,
    * and the check itself (None = correct). */
  final case class Req(route: String, path: String, deep: Boolean,
                       check: (Int, String) => Option[String])

  final class Record(val id: Long, val req: Req, val phase: String, val due: Double) {
    var start, ttfb, end = 0.0
    var late = 0.0
    var backlog = 0
    var status = 0
    var bytes = 0L
    var err: Option[String] = None
    var traced = false
    var pair = 0L
    def toMap: Map[String, Any] = Map("id" -> id, "kind" -> "request", "route" -> req.route,
      "phase" -> phase, "due" -> due, "start" -> start, "ttfb" -> ttfb, "end" -> end,
      "late" -> late, "backlog" -> backlog, "status" -> status, "bytes" -> bytes,
      "deep" -> req.deep, "ok" -> err.isEmpty, "err" -> err.getOrElse(""), "traced" -> traced, "pair" -> pair)
  }

  /** The staged warehouse's content: days [firstDay, lastDay], each as
    * published by the last pull that covered it (see [[stage]]). */
  final class Content(val model: GasModel, val firstDay: Long, val lastDay: Long) {
    val lastFetch: Long => Long = d =>
      if (d > lastDay - Refresh.Lookback) lastDay else lastDay - 1
    val series: IndexedSeq[String] = model.allSeries.toIndexedSeq
    private val parts: Map[String, (Int, Int)] = (for {
      (s, i) <- model.siteNames.zipWithIndex; (m, j) <- model.metrics.zipWithIndex
    } yield model.seriesId(s, m) -> (i + 1, j + 1)).toMap
    val perSeries: Int = ((lastDay - firstDay + 1) * model.perDay).toInt
    def time(k: Int): Long = firstDay * 86400L + k * model.stepSec
    def value(sid: String, t: Long): Double = {
      val (s, m) = parts(sid)
      model.valueAsOf(s, m, t, lastFetch(Math.floorDiv(t, 86400L)))
    }
    /** Global row `i` of the (series_id, observation_time) order. */
    def row(i: Int): (String, Long) = (series(i / perSeries), time(i % perSeries))
  }

  /** The seeded request mix: blocks holding every route once, each block
    * shuffled by the seed. The routes weigh the same because nothing
    * records how the reference's callers split their traffic; the per-route
    * metrics cover each route on its own. */
  final class Mix(c: Content, seed: Long) {
    private val rnd = new java.util.SplittableRandom(seed)
    private var block: List[String] = Nil
    def next(): Req = {
      if (block.isEmpty) {
        val slots = Routes.toArray
        for (i <- slots.indices.reverse) {
          val j = rnd.nextInt(i + 1)
          val t = slots(i); slots(i) = slots(j); slots(j) = t
        }
        block = slots.toList
      }
      val route = block.head
      block = block.tail
      val deep = rnd.nextInt(2) == 0
      route match {
        case "data_series" =>
          val sid = c.series(rnd.nextInt(c.series.size))
          val days = 1 + rnd.nextInt(3)
          val k0 = rnd.nextInt(c.perSeries - days * c.model.perDay + 1)
          val k1 = k0 + days * c.model.perDay - 1
          val path = s"/v2/data?series_id=${enc(sid)}" +
            s"&start=${enc(TsParam.format(Instant.ofEpochSecond(c.time(k0))))}" +
            s"&end=${enc(TsParam.format(Instant.ofEpochSecond(c.time(k1))))}"
          Req("data_series", path, deep, dataCheck(c, deep, (k0 to k1).map(k => (sid, c.time(k)))))
        case "data_page" =>
          val total = c.series.size * c.perSeries
          val off = rnd.nextInt(total - PageRows + 1)
          val path = s"/v2/data?dataset_id=${Refresh.Dataset}&limit=$PageRows&offset=$off"
          Req("data_page", path, deep, dataCheck(c, deep, (off until off + PageRows).map(c.row)))
        case "export_csv" =>
          val sid = c.series(rnd.nextInt(c.series.size))
          Req("export_csv", s"/v2/export/data.csv?series_id=${enc(sid)}", deep,
            csvCheck(c, deep, sid))
        case "discovery_sample" =>
          val k = 5 + rnd.nextInt(16)
          Req("discovery_sample",
            s"/v2/discovery/sample?dataset_id=${Refresh.Dataset}&limit=$k", deep,
            sampleCheck(k))
        case _ =>
          val site = 1 + rnd.nextInt(c.model.sites)
          Req("discovery_raw",
            s"/v2/discovery/raw?dataset_id=${Refresh.Dataset}&site_id=$site&limit=20", deep,
            rawCheck(c.model, site, 20))
      }
    }
  }

  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def json(body: String): Either[String, JsonNode] =
    try Right(mapper.readTree(body))
    catch { case e: Exception => Left(s"unparseable body: ${e.getMessage.take(80)}") }

  /** `/v2/data`: a JSON array of series objects; the concatenated points
    * must be `want` (series id, epoch second) in order, and with `deep`
    * every value must equal the model's. */
  def dataCheck(c: Content, deep: Boolean, want: Seq[(String, Long)])(status: Int, body: String)
  : Option[String] =
    if (status != 200) Some(s"status $status")
    else json(body).fold(Some(_), { root =>
      if (!root.isArray) Some("body is not an array")
      else {
        val got = ArrayBuffer[(String, Long, Double)]()
        var shape: Option[String] = None
        root.forEach { s =>
          val sid = s.path("series_id").asText("")
          if (s.path("dataset_id").asText("") != Refresh.Dataset || !s.path("points").isArray)
            shape = Some("series object has the wrong shape")
          s.path("points").forEach { p =>
            got += ((sid, Instant.parse(p.path("timestamp").asText("1970-01-01T00:00:00Z")).getEpochSecond,
              p.path("value").asDouble(Double.NaN)))
          }
        }
        shape.orElse {
          if (got.size != want.size) Some(s"${got.size} points, expected ${want.size}")
          else got.zip(want).collectFirst {
            case ((s, t, _), (ws, wt)) if s != ws || t != wt => s"point ($s, $t), expected ($ws, $wt)"
            case ((s, t, v), _) if deep && v != c.value(s, t) =>
              s"value $v at ($s, $t), expected ${c.value(s, t)}"
          }
        }
      }
    })

  /** `/v2/export/data.csv` for one series: header plus every point. */
  def csvCheck(c: Content, deep: Boolean, sid: String)(status: Int, body: String): Option[String] =
    if (status != 200) Some(s"status $status")
    else {
      val lines = body.split("\n", -1)
      if (lines.head != "series_id,observation_time,value,quality_flag") Some("bad csv header")
      else if (lines.length - 1 != c.perSeries) Some(s"${lines.length - 1} csv rows, expected ${c.perSeries}")
      else lines.iterator.drop(1).zipWithIndex.collectFirst(Function.unlift { case (l, k) =>
        val f = l.split(",", -1)
        val t = c.time(k)
        if (f.length != 4 || f(0) != sid || f(1) != TsCsv.format(Instant.ofEpochSecond(t)))
          Some(s"csv row $k: $l")
        else if (deep && f(2).toDoubleOption != Some(c.value(sid, t)))
          Some(s"csv row $k value ${f(2)}, expected ${c.value(sid, t)}")
        else None
      })
    }

  /** `/v2/discovery/sample`: `k` raw payloads, each a JSON string holding
    * a landed wide row. */
  def sampleCheck(k: Int)(status: Int, body: String): Option[String] =
    if (status != 200) Some(s"status $status")
    else json(body).fold(Some(_), { root =>
      if (!root.isArray || root.size != k) Some(s"expected an array of $k payloads")
      else {
        var err: Option[String] = None
        root.forEach { p =>
          val ok = p.isTextual && json(p.asText).exists(o => o.has("site") && o.has("ts"))
          if (!ok && err.isEmpty) err = Some("sample item is not a landed payload")
        }
        err
      }
    })

  /** `/v2/discovery/raw` with `site_id`: `k` payloads, all of that site. */
  def rawCheck(model: GasModel, site: Int, k: Int)(status: Int, body: String): Option[String] =
    if (status != 200) Some(s"status $status")
    else json(body).fold(Some(_), { root =>
      if (!root.isArray || root.size != k) Some(s"expected an array of $k payloads")
      else {
        var err: Option[String] = None
        root.forEach { p =>
          if (err.isEmpty && (p.path("siteId").asText("").toIntOption != Some(site) ||
            p.path("site").asText("") != model.siteName(site)))
            err = Some(s"payload of the wrong site: ${p.toString.take(80)}")
        }
        err
      }
    })

  /** Issue one GET over a fresh-or-reused keep-alive connection, filling in
    * the record's timings, status, size and check result. */
  def execute(base: String, r: Record): Unit = {
    r.start = Clock.nowMs
    try {
      val conn = new URI(base + r.req.path).toURL.openConnection().asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      val status = conn.getResponseCode
      r.ttfb = Clock.nowMs
      val in = if (status < 400) conn.getInputStream else conn.getErrorStream
      val bytes = if (in == null) Array.emptyByteArray else try in.readAllBytes() finally in.close()
      r.end = Clock.nowMs
      r.status = status
      r.bytes = bytes.length.toLong
      r.err = r.req.check(status, new String(bytes, StandardCharsets.UTF_8))
    } catch {
      case e: Exception =>
        r.end = Clock.nowMs
        r.err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }

  /** Open loop: request i is due at start + i / rate and queued for the
    * next free client; latency counts from the due time. */
  def openLoop(base: String, mix: Mix, rate: Double, durationMs: Double, clients: Int,
               phase: String, ids: AtomicInteger): Seq[Record] = {
    val queue = new LinkedBlockingQueue[Option[Record]]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Record]()
    val workers = (1 to clients).map { _ =>
      val t = new Thread(() => {
        var more = true
        while (more) queue.take() match {
          case Some(r) => execute(base, r); done.add(r)
          case None => more = false
        }
      })
      t.start(); t
    }
    val t0 = Clock.nowMs
    val n = (durationMs * rate / 1000.0).toInt
    for (i <- 0 until n) {
      val due = t0 + i * 1000.0 / rate
      val wait = due - Clock.nowMs
      if (wait > 0) TimeUnit.MICROSECONDS.sleep((wait * 1000).toLong)
      val r = new Record(ids.incrementAndGet().toLong, mix.next(), phase, due)
      r.late = Clock.nowMs - due
      r.backlog = queue.size
      queue.put(Some(r))
    }
    workers.foreach(_ => queue.put(None))
    workers.foreach(_.join())
    import scala.jdk.CollectionConverters._
    done.asScala.toSeq.sortBy(_.id)
  }

  /** Closed loop: `clients` clients each send their next request as soon as
    * the previous one completes, until the deadline. */
  def closedLoop(base: String, mix: Mix, durationMs: Double, clients: Int,
                 phase: String, ids: AtomicInteger): (Seq[Record], Double) = {
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Record]()
    val t0 = Clock.nowMs
    val deadline = t0 + durationMs
    val workers = (1 to clients).map { _ =>
      val t = new Thread(() => {
        while (Clock.nowMs < deadline) {
          val req = mix.synchronized(mix.next())
          val r = new Record(ids.incrementAndGet().toLong, req, phase, Clock.nowMs)
          execute(base, r)
          done.add(r)
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
    import scala.jdk.CollectionConverters._
    (done.asScala.toSeq.sortBy(_.id), Clock.nowMs - t0)
  }

  /** Build a warehouse the way the scheduler does: a backfill of days
    * [firstDay, lastDay - 1] as published on lastDay - 1, then one refresh
    * tick re-pulling the trailing `Refresh.Lookback` days as published on
    * lastDay (revisions land through the last-write-wins upsert). Each
    * ingest is one operation record; in a traced run it is traced. */
  private def stage(spark: SparkSession, ctx: Main.Ctx, api: GasApi, wh: Ingest.Warehouse,
                    firstDay: Long, lastDay: Long, ids: AtomicInteger): Seq[Map[String, Any]] =
    Seq(("backfill", firstDay, lastDay - 1), ("tick", lastDay - Refresh.Lookback + 1, lastDay)).map {
      case (step, from, to) =>
        api.asOfDay = to
        val opId = ids.incrementAndGet().toLong
        def ingest() = Refresh.ingestOp(spark, wh, api, from, to, opId, step, ctx.trace)
        if (ctx.trace) Main.traced(spark, traced = true)(ingest()) else ingest()
    }

  def run(spark: SparkSession, ctx: Main.Ctx): Map[String, Any] = {
    val model = GasModel(ctx.seed, sites = 8, perDay = 24, revShare = 0.2)
    val api = new GasApi(model, ctx.cpus)
    val firstDay = java.time.LocalDate.parse("2024-01-01").toEpochDay
    val lastDay = firstDay + 27
    val ids = new AtomicInteger(0)
    // set-up: build the warehouse StageReps times, serve the last one
    val staged = (1 to Main.StageReps).map { i =>
      val t = System.nanoTime()
      val ops = stage(spark, ctx, api, Ingest.Warehouse(s"${ctx.work}/wh$i"), firstDay, lastDay, ids)
      ((System.nanoTime() - t) / 1e9, ops)
    }
    val wh = Ingest.Warehouse(s"${ctx.work}/wh${Main.StageReps}")
    val content = new Content(model, firstDay, lastDay)
    val (whErr, rows, checksum) =
      Refresh.verify(spark, wh, model, firstDay to lastDay, content.lastFetch)
    val (whBytes, _) = Refresh.du(wh.root)
    val (_, obsFiles) = Refresh.du(wh.observations)
    val server = new QueryServer(spark, wh).start()
    val base = server.url
    try {
      // JIT warm-up over every route, uncounted
      val warmMix = new Mix(content, ctx.seed ^ 0x77L)
      closedLoop(base, warmMix, 1000, 1, "warm", ids)
      closedLoop(base, warmMix, 4000, ctx.cpus, "warm", ids)
      val mix = new Mix(content, ctx.seed)
      val records =
        if (!ctx.trace) {
          // capacity first: its full concurrency finishes the JIT warm-up
          // that the open loop otherwise still paid for (its latency fell
          // about 15 % from the first to the second half of the phase)
          val (closed, closedMs) =
            closedLoop(base, mix, ctx.seconds * 1000 * 0.3, ctx.cpus, "closed", ids)
          val open = openLoop(base, mix, Main.ServeRate, ctx.seconds * 1000 * 0.7,
            ctx.cpus, "open", ids)
          Seq(closed, open).flatten.map(_.toMap) :+ Map("kind" -> "phase",
            "phase" -> "closed", "ms" -> closedMs)
        } else {
          // traced run: a short open-loop phase for the generator's own
          // numbers, then one request at a time
          val open = openLoop(base, mix, Main.ServeRate, ctx.seconds * 1000 * 0.4,
            ctx.cpus, "open", ids)
          // each request runs twice in a row, traced and untraced, so the
          // pair's difference is the tracing overhead
          val deadline = Clock.nowMs + ctx.seconds * 1000 * 0.6
          val seq = Seq.newBuilder[Record]
          var p = 0L
          while (p < 2 || Clock.nowMs < deadline) {
            p += 1
            val req = mix.next()
            seq ++= Main.pair(spark, p) { on =>
              val r = new Record(ids.incrementAndGet().toLong, req, "seq", Clock.nowMs)
              r.traced = on
              r.pair = p
              Trace.span("request", 0L, r.id) { sid =>
                Trace.span("serving.http", sid, r.id) { _ => execute(base, r) }
              }
              r
            }
          }
          (open ++ seq.result()).map(_.toMap)
        }
      Map("ops" -> (staged.flatMap(_._2) ++ records), "stage_s" -> staged.map(_._1),
        "checks" -> Seq(Map("name" -> "staged_warehouse", "ok" -> whErr.isEmpty,
          "err" -> whErr.getOrElse(""), "rows" -> rows, "checksum" -> checksum.toString)),
        "counters" -> Map("warehouse_bytes" -> whBytes, "obs_files" -> obsFiles,
          "obs_rows" -> rows, "rate" -> Main.ServeRate,
          "tick_rows" -> Refresh.Lookback * model.perDay * model.sites * model.metrics.size))
    } finally {
      server.stop()
      api.stop()
    }
  }
}
