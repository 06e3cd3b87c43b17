package graft.serving

import java.net.InetSocketAddress
import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.core.OptionalFilters
import graft.warehouse.{Gie, Ingest, Upsert}
import graft.warehouse.Ingest.Warehouse

/** The reference's process-level serving edge (`app/api/v2/routes.py`,
  * `ingestion.py`, `discovery.py`, `health.py`, `export.py`) as an
  * in-process HTTP listener over the verified engine functions — JDK
  * `com.sun.net.httpserver` only, no new dependencies.
  *
  * Every endpoint delegates to an operator that already has a green
  * CORRECTNESS row; this class adds ONLY the HTTP surface: parameter
  * parsing, FastAPI-equivalent validation (400 on malformed dates or
  * inverted ranges, `routes.py` date checks at `ingestion.py:23-31`),
  * bounded-edge JSON rendering, and the 202-accepted background-ingest
  * thread boundary (`ingestion.py:34-50`: handler enqueues and returns
  * immediately; a single worker drains jobs in order, exactly FastAPI's
  * BackgroundTasks semantics for one API process).
  *
  * Serving reads are BOUNDED at the edge by the same caps the reference
  * enforces (`limit le=5000` on /v2/data, `le=50` on discovery/sample,
  * 50k on exports): every collect here is over a capped frame, so the
  * edge never materializes a data-proportional result — the same
  * contract as [[graft.sources.Exports]]. The one uncapped collect is
  * meta_series, a dimension of one row per series (see below). At
  * 100 TB the server is a driver-side veneer: all filtering runs in the
  * cluster plan (OptionalFilters builds only-defined predicates, so
  * Catalyst sees sargable conjuncts and prunes partitions), and only
  * the ≤5000 requested rows cross to the edge, where /v2/data attaches
  * each series' metadata.
  *
  * Table resolution: every serving read takes its table from [[table]],
  * which runs the swap self-heal and then [[graft.Tables.resolve]], the
  * engine's one resolver: one `listStatus` walk per table a request
  * touches, and a schema-inference job only when that listing changed.
  * On top of it the edge keeps one frame per resolved listing, so a warm
  * request re-analyzes nothing. Any write changes the listing — an
  * append adds files, the upsert swap renames in new part files, a
  * writer outside this server does the same — so the next request
  * re-reads the table and sees the write, a new schema included.
  * meta_series is a per-listing dimension: its rows are collected to the
  * driver once per listing, and /v2/data joins them to its page there,
  * so a warm /v2/data request is one Spark job. A table that does not
  * exist (nothing landed yet) is the empty page: `[]`, or the bare
  * header for `data.csv`.
  *
  * Every response closes its connection: the JDK server sends the body
  * as a second small segment, which a kept-alive connection would hold
  * for the client's delayed ACK (Nagle), about 40 ms a response.
  *
  * One deliberate addition over the reference: `GET /v2/ingest/jobs/N`
  * exposes the background job's terminal state. The reference's 202
  * gives the caller no completion signal at all (fire-and-forget);
  * a pollable job row is the minimal deterministic contract a spec —
  * or a real operator — needs.
  */
final class QueryServer(spark: SparkSession, wh: Warehouse,
                        restUrl: Option[String] = None,
                        gieUrl: Option[String] = None) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  // request pool sized for a test/API edge; the heavy lifting is Spark's
  private val requestPool = Executors.newFixedThreadPool(4)
  // FastAPI BackgroundTasks analog: one worker, jobs run in accept order
  private val ingestPool = Executors.newSingleThreadExecutor()
  private val jobSeq = new AtomicLong(0L)
  private val jobs = new ConcurrentHashMap[Long, String]()

  def port: Int = server.getAddress.getPort
  def url: String = s"http://127.0.0.1:$port"

  def start(): QueryServer = {
    server.setExecutor(requestPool)
    server.createContext("/health", handler(health))
    server.createContext("/v2/data", handler(data))
    server.createContext("/v2/discovery/datasets", handler(datasets))
    server.createContext("/v2/discovery/fields", handler(fields))
    server.createContext("/v2/discovery/sample", handler(sample))
    server.createContext("/v2/discovery/raw", handler(rawPreview))
    server.createContext("/v2/ingest/gas", handler(ingestGas))
    server.createContext("/v2/ingest/entsog", handler(ingestEntsog))
    server.createContext("/v2/ingest/instantaneous", handler(ingestInstantaneous))
    server.createContext("/v2/ingest/gas-publications", handler(ingestPublications))
    server.createContext("/v2/ingest/publication-catalogue", handler(publicationCatalogue))
    server.createContext("/v2/ingest/jobs/", handler(jobStatus))
    server.createContext("/v2/export/data.csv", handler(exportCsv))
    server.createContext("/v2/export/raw/json", handler(exportRawJson))
    server.createContext("/v2/export/raw/csv", handler(exportRawCsv))
    server.createContext("/v2/gie/agsi",
      handler(gieIngest(Gie.DatasetAgsi, Gie.SourceAgsi)))
    server.createContext("/v2/gie/alsi",
      handler(gieIngest(Gie.DatasetAlsi, Gie.SourceAlsi)))
    server.createContext("/v2/gie/data", handler(gieData))
    server.start()
    this
  }

  def stop(): Unit = {
    server.stop(0)
    ingestPool.shutdown()
    ingestPool.awaitTermination(60, TimeUnit.SECONDS)
    requestPool.shutdown()
  }

  // ---------------------------------------------------------------- routing

  private case class Request(method: String, params: Map[String, Seq[String]],
                             path: String) {
    def first(k: String): Option[String] = params.get(k).flatMap(_.headOption)
    /** Typed params (FastAPI `Query(int)` / `Query(float)` parity): a
      * malformed value answers 400, never a 500. */
    def int(k: String): Option[Int] = typed(k, "an integer")(_.toIntOption)
    def double(k: String): Option[Double] = typed(k, "a number")(_.toDoubleOption)
    /** A row count: negative is a 400 too (Spark's `limit` would 500). */
    def count(k: String): Option[Int] =
      int(k).map(v => if (v < 0) throw BadParam(s"$k must be >= 0") else v)
    /** Exactly what `CAST(k AS TIMESTAMP)` accepts under the session
      * zone (ANSI mode would throw at execution instead); the validated
      * string is returned for that cast. */
    def timestamp(k: String): Option[String] = typed(k, "a timestamp") { v =>
      val zone = DateTimeUtils.getZoneId(spark.conf.get("spark.sql.session.timeZone"))
      DateTimeUtils.stringToTimestamp(UTF8String.fromString(v), zone).map(_ => v)
    }
    private def typed[T](k: String, kind: String)(parse: String => Option[T]): Option[T] =
      first(k).map(v => parse(v).getOrElse(throw BadParam(s"$k must be $kind")))
  }
  /** A malformed typed param; [[handler]] answers it with a 400. */
  private case class BadParam(detail: String) extends RuntimeException(detail)
  /** `chunks` set → chunked transfer encoding: the body streams from
    * the iterator (one Spark partition in flight via toLocalIterator),
    * so a 50k-row export never materializes on the edge heap. */
  private case class Response(status: Int, body: String,
                              contentType: String = "application/json",
                              headers: Map[String, String] = Map.empty,
                              chunks: Option[Iterator[String]] = None)

  private def handler(f: Request => Response): HttpHandler = new HttpHandler {
    override def handle(x: HttpExchange): Unit = {
      val resp =
        try {
          val q = Option(x.getRequestURI.getRawQuery).getOrElse("")
          val params = q.split("&").toSeq.filter(_.contains("="))
            .map { kv =>
              val Array(k, v) = kv.split("=", 2)
              URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8")
            }
            .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
          f(Request(x.getRequestMethod, params, x.getRequestURI.getPath))
        } catch {
          case BadParam(detail) => Response(400, jsonObj("detail" -> jsonStr(detail)))
          case NonFatal(e) =>
            Response(500, jsonObj("detail" -> jsonStr(
              Option(e.getMessage).getOrElse(e.getClass.getSimpleName))))
        }
      x.getResponseHeaders.add("Content-Type", resp.contentType)
      // the JDK server writes the headers and the body as two segments;
      // on a kept-alive connection Nagle holds the second one until the
      // client's delayed ACK (~40 ms). Closing the connection flushes it.
      x.getResponseHeaders.add("Connection", "close")
      resp.headers.foreach { case (k, v) => x.getResponseHeaders.add(k, v) }
      resp.chunks match {
        case Some(it) =>
          // length 0 = chunked transfer encoding on JDK HttpServer
          x.sendResponseHeaders(resp.status, 0L)
          val os = x.getResponseBody
          try it.foreach(c => os.write(c.getBytes(StandardCharsets.UTF_8)))
          finally os.close()
        case None =>
          val bytes = resp.body.getBytes(StandardCharsets.UTF_8)
          x.sendResponseHeaders(resp.status, if (bytes.isEmpty) -1 else bytes.length.toLong)
          if (bytes.nonEmpty) {
            val os = x.getResponseBody
            try os.write(bytes) finally os.close()
          }
      }
      x.close()
    }
  }

  // ---------------------------------------------------------------- tables

  /** The edge's frame over one resolved listing. `rows` is the table
    * collected to the driver on first use: a dimension small enough for
    * the edge (meta_series) costs one Spark job per listing, not one per
    * request. */
  private final class Served(val table: Tables.Resolved, val frame: DataFrame) {
    lazy val rows: Array[Row] = frame.collect()
  }
  // keyed by table path: at most the seven warehouse tables served here
  private val served = new ConcurrentHashMap[String, Served]()

  /** The one way a route reads a warehouse table (see class doc). The
    * existence probe runs the warehouse's swap recovery first, so a read
    * route self-heals an interrupted overwrite like every writer does. */
  private def resolve(path: String): Option[Served] =
    if (!Upsert.tableExists(spark, path)) None
    else {
      val t = Tables.resolve(spark, path)
      Some(served.compute(path, (_, s) =>
        if (s != null && (s.table eq t)) s else new Served(t, t.read(spark))))
    }

  private def table(path: String): Option[DataFrame] = resolve(path).map(_.frame)

  // ------------------------------------------------------------- endpoints

  /** `health.py:6-8`. */
  private def health(r: Request): Response =
    Response(200, jsonObj("status" -> jsonStr("ok")))

  /** `routes.py:12-62`: optional-param filtered observation page, grouped
    * per series at the (bounded) edge exactly as the reference groups
    * rows into SeriesResponse with a defaultdict after the SQL page.
    * `include_raw=true` serves each point's landed payload verbatim
    * (`routes.py:57`); when false (the default) the payload column is
    * never even selected, so the parquet scan stays narrow. */
  private def data(r: Request): Response = {
    val limit = r.int("limit").getOrElse(graft.sources.Exports.DefaultPageRows)
    if (limit > 5000 || limit < 0)
      return Response(400, jsonObj("detail" -> jsonStr("limit must be in [0, 5000]")))
    val offset = math.max(0, r.int("offset").getOrElse(0))
    val (minValue, maxValue) = (r.double("min_value"), r.double("max_value"))
    val (start, end) = (r.timestamp("start"), r.timestamp("end"))
    val includeRaw = r.first("include_raw").exists(_.equalsIgnoreCase("true"))

    val (obs, meta) = (table(wh.observations), resolve(wh.metaSeries)) match {
      case (Some(o), Some(m)) => (o, m)
      case _ => return Response(200, "[]")
    }
    // the inner join with meta_series, on the driver: the dataset filter
    // picks the series, and observations of any other series (orphans
    // included) never reach the page
    val dataset = r.first("dataset_id")
    val metaOf = meta.rows.iterator
      .filter(m => m.getAs[String]("series_id") != null &&
        dataset.forall(_ == m.getAs[String]("dataset_id")))
      .map(m => m.getAs[String]("series_id") -> m).toMap
    if (metaOf.isEmpty) return Response(200, "[]")
    // only-defined conjuncts: absent params contribute NO predicate, so
    // the scan keeps its pushdown (the F1 operator, OptionalFilters)
    val filtered = OptionalFilters(obs,
      Some(col("series_id").isin(metaOf.keys.toSeq: _*)),
      OptionalFilters.eqOpt(col("series_id"), r.first("series_id")),
      OptionalFilters.eqOpt(col("quality_flag"), r.first("quality_flag")),
      OptionalFilters.geOpt(col("observation_time"), start.map(lit(_).cast("timestamp"))),
      OptionalFilters.leOpt(col("observation_time"), end.map(lit(_).cast("timestamp"))),
      OptionalFilters.geOpt(col("value"), minValue),
      OptionalFilters.leOpt(col("value"), maxValue))
    // raw_payload is selected ONLY when asked for — column pruning keeps
    // the default page's scan off the (wide) payload column entirely
    val rawCol =
      if (includeRaw && obs.columns.contains("raw_payload")) col("raw_payload")
      else lit(null).cast("string")
    // the reference pages the FLAT rows (LIMIT/OFFSET in DATA_QUERY),
    // then groups the page in the handler — same here, and the page is
    // what bounds the edge collect
    val page = filtered
      .orderBy("series_id", "observation_time")
      .select(col("series_id"), col("observation_time"), col("value"),
        col("quality_flag"), rawCol.as("raw_payload"))
      .offset(offset).limit(limit).collect()

    // unit/frequency ride from meta_series (schemas.py:13-17) — but
    // SeriesResponse declares them REQUIRED str (pydantic would raise,
    // never serialize None), so a warehouse written before they were
    // registered falls back to the autoregister defaults
    // (series_autoregister.py: "UNKNOWN" / "intraday") instead of null
    def metaStr(m: Row, c: String, default: String): String =
      if (m.schema.fieldNames.contains(c)) Option(m.getAs[String](c)).getOrElse(default)
      else default
    // field names AND order are the pydantic declaration order
    // (schemas.py:6-19: SeriesResponse / DataPoint under
    // response_model=list[SeriesResponse]); Optional fields
    // (quality_flag, raw_payload) render absent values as JSON null
    // exactly as pydantic serializes None, while the required-str
    // fields (unit, frequency) are backfilled — the golden fixture in
    // QueryServerSpec pins this byte-for-byte
    val series = page.groupBy(r => r.getString(0)).toSeq.sortBy(_._1).map {
      case (sid, rows) =>
        val m = metaOf(sid)
        val points = rows.map { p =>
          jsonObj(
            "timestamp" -> jsonStr(p.getTimestamp(1).toInstant.toString),
            "value" -> p.getDouble(2).toString,
            "quality_flag" -> Option(p.getString(3)).map(jsonStr).getOrElse("null"),
            // the landed payload IS JSON (zero-loss landing) — splice
            // verbatim, the JSONB render the reference returns
            "raw_payload" -> Option(p.getString(4)).getOrElse("null"))
        }
        jsonObj(
          "series_id" -> jsonStr(sid),
          "dataset_id" -> jsonStr(m.getAs[String]("dataset_id")),
          "description" -> jsonStr(m.getAs[String]("description")),
          "unit" -> jsonStr(metaStr(m, "unit", "UNKNOWN")),
          "frequency" -> jsonStr(metaStr(m, "frequency", "intraday")),
          "points" -> points.mkString("[", ",", "]"))
    }
    Response(200, series.mkString("[", ",", "]"))
  }

  /** `discovery.py:9-15`. */
  private def datasets(r: Request): Response = {
    val ds = table(wh.rawEvents).toSeq.flatMap(
      _.select("dataset_id").distinct().orderBy("dataset_id")
        .collect().map(r0 => jsonStr(r0.getString(0))))
    Response(200, ds.mkString("[", ",", "]"))
  }

  /** `discovery.py:18-40`. */
  private def fields(r: Request): Response =
    r.first("dataset_id") match {
      case None =>
        Response(400, jsonObj("detail" -> jsonStr("dataset_id is required")))
      case Some(ds) =>
        val rows = table(wh.fieldCatalog).toSeq.flatMap(
          _.filter(col("dataset_id") === ds)
            .orderBy("field_name")
            .select(col("field_name").as("field"),
              col("inferred_type").as("type"),
              col("nullable"), col("example_value").as("example"))
            .toJSON.collect())
        Response(200, rows.mkString("[", ",", "]"))
    }

  /** `discovery.py:43-57`: newest raw payloads, cap 50. */
  private def sample(r: Request): Response = {
    val limit = math.min(r.count("limit").getOrElse(5), 50)
    r.first("dataset_id") match {
      case None =>
        Response(400, jsonObj("detail" -> jsonStr("dataset_id is required")))
      case Some(ds) =>
        // newest-first needs a total order for a stable page: tie-break
        // the (second-grain) ingest stamp by event_id
        val rows = table(wh.rawEvents).toSeq.flatMap(
          _.filter(col("dataset_id") === ds)
            .orderBy(col("ingested_at").desc, col("event_id").desc)
            .limit(limit)
            .select("raw_payload").collect().map(r0 => jsonStr(r0.getString(0))))
        Response(200, rows.mkString("[", ",", "]"))
    }
  }

  /** `ingestion.py:13-50`: validate, enqueue, 202 immediately. */
  private def ingestGas(r: Request): Response = {
    if (r.method != "POST")
      return Response(405, jsonObj("detail" -> jsonStr("use POST")))
    val (fromS, toS) = validWindow(r.first("from_date"), r.first("to_date")) match {
      case Left(resp) => return resp
      case Right(w) => w
    }
    val siteIds = r.params.getOrElse("site_ids", Seq.empty)

    val jobId = jobSeq.incrementAndGet()
    jobs.put(jobId, "accepted")
    ingestPool.submit(new Runnable {
      override def run(): Unit = {
        jobs.put(jobId, "running")
        try {
          runGasIngest(fromS, toS, siteIds)
          jobs.put(jobId, "done")
        } catch {
          case NonFatal(e) =>
            jobs.put(jobId, s"failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
        }
      }
    })
    Response(202, jsonObj(
      "status" -> jsonStr("accepted"),
      "message" -> jsonStr("Ingestion started in background"),
      "dataset" -> jsonStr("GAS_QUALITY"),
      "from" -> jsonStr(fromS),
      "to" -> jsonStr(toS),
      "job_id" -> jobId.toString,
      "site_ids" -> (if (siteIds.isEmpty) "null"
                     else siteIds.map(jsonStr).mkString("[", ",", "]"))))
  }

  /** The background task body (`run_all.py`'s ingest_dataset): fetch via
    * the chunked REST source (live over `restUrl` when given — the
    * loopback spec path — or the deterministic stub), pivot the long
    * (site, metric) rows to the wide batch shape, and run the verified
    * five-stage ingest DAG. Runs on the single ingest worker thread. */
  private def runGasIngest(from: String, to: String, siteIds: Seq[String]): Unit = {
    import graft.sources.v2.ChunkedRestSource
    var reader = spark.read.format("graft.sources.v2.ChunkedRestSource")
      .option("from", from).option("to", to).option("chunkDays", "2")
      .option("retryBaseMs", "1").option("retryRateLimitExtraMs", "2")
    restUrl.foreach(u => reader = reader.option("url", u))
    val long = reader.load()
    val sited = if (siteIds.isEmpty) long else long.filter(col("site").isin(siteIds: _*))
    Ingest.ingestWide(spark, wh, Ingest.gasWide(sited),
      "GAS_QUALITY", "ts", Seq("site"))
  }

  /** Shared 202-accepted contract: enqueue `work` on the single ingest
    * worker (FastAPI BackgroundTasks semantics), return immediately with
    * the dataset's response fields + the pollable job id. */
  private def accepted(fields: (String, String)*)(work: => Unit): Response = {
    val jobId = jobSeq.incrementAndGet()
    jobs.put(jobId, "accepted")
    ingestPool.submit(new Runnable {
      override def run(): Unit = {
        jobs.put(jobId, "running")
        try { work; jobs.put(jobId, "done") }
        catch {
          case NonFatal(e) =>
            jobs.put(jobId, s"failed: ${Option(e.getMessage).getOrElse(e.getClass.getName)}")
        }
      }
    })
    Response(202, jsonObj(
      (("status" -> jsonStr("accepted")) +: fields :+ ("job_id" -> jobId.toString)): _*))
  }

  /** Shared YYYY-MM-DD window validation (`ingestion.py:23-31` — the
    * reference only guards /gas, but a 202 whose background job dies
    * on an unparseable date is strictly worse than the 400 the class
    * doc promises for every ingest route). Left = the 400 response. */
  private def validWindow(fromS: Option[String], toS: Option[String])
  : Either[Response, (String, String)] = {
    if (fromS.isEmpty || toS.isEmpty)
      return Left(Response(400,
        jsonObj("detail" -> jsonStr("from_date and to_date are required"))))
    val (from, to) =
      try (LocalDate.parse(fromS.get), LocalDate.parse(toS.get))
      catch {
        case _: java.time.format.DateTimeParseException =>
          return Left(Response(400,
            jsonObj("detail" -> jsonStr("Invalid date format. Use YYYY-MM-DD"))))
      }
    if (to.isBefore(from))
      Left(Response(400,
        jsonObj("detail" -> jsonStr("to_date must be >= from_date"))))
    else Right((fromS.get, toS.get))
  }

  /** `ingestion.py:53-87`: ENTSOG ingest — list-valued filter params,
    * 202 with the filters echoed back. */
  private def ingestEntsog(r: Request): Response = {
    if (r.method != "POST")
      return Response(405, jsonObj("detail" -> jsonStr("use POST")))
    val window = validWindow(r.first("from_date"), r.first("to_date")) match {
      case Left(resp) => return resp
      case Right(w) => w
    }
    val ops = r.params.getOrElse("operator_keys", Seq.empty)
    val pts = r.params.getOrElse("point_keys", Seq.empty)
    val dirs = r.params.getOrElse("direction_keys", Seq.empty)
    val inds = r.params.getOrElse("indicators", Seq.empty)
    // client.py:139-144's hard validation, surfaced as a 400 at the edge
    // (the reference lets the background task throw into the void)
    if (inds.isEmpty && (pts.isEmpty || dirs.isEmpty))
      return Response(400, jsonObj("detail" -> jsonStr(
        "ENTSOG requires at least one of: 1) indicator 2) pointKey + directionKey")))
    def arr(v: Seq[String]) =
      if (v.isEmpty) "null" else v.map(jsonStr).mkString("[", ",", "]")
    accepted(
      "dataset" -> jsonStr("ENTSOG"),
      "from" -> jsonStr(window._1), "to" -> jsonStr(window._2),
      "filters" -> jsonObj(
        "operator_keys" -> arr(ops), "point_keys" -> arr(pts),
        "direction_keys" -> arr(dirs), "indicators" -> arr(inds))) {
      graft.warehouse.NationalGas.ingestEntsog(spark, wh, window._1, window._2,
        ops, pts, dirs, inds)
    }
  }

  /** `ingestion.py:90-101`: instantaneous-flow ingest, no params. */
  private def ingestInstantaneous(r: Request): Response = {
    if (r.method != "POST")
      return Response(405, jsonObj("detail" -> jsonStr("use POST")))
    accepted("dataset" -> jsonStr("INSTANTANEOUS_FLOW")) {
      graft.warehouse.NationalGas.ingestInstantaneous(spark, wh)
    }
  }

  /** `ingestion.py:133-155`: gas-publications ingest for a list of
    * publication ids. */
  private def ingestPublications(r: Request): Response = {
    if (r.method != "POST")
      return Response(405, jsonObj("detail" -> jsonStr("use POST")))
    val pubIds = r.params.getOrElse("publication_ids", Seq.empty)
    if (pubIds.isEmpty)
      return Response(400, jsonObj("detail" -> jsonStr(
        "publication_ids is required")))
    val window = validWindow(r.first("from_date"), r.first("to_date")) match {
      case Left(resp) => return resp
      case Right(w) => w
    }
    accepted("dataset" -> jsonStr("GAS_PUBLICATIONS")) {
      graft.warehouse.NationalGas.ingestPublications(spark, wh,
        window._1, window._2, pubIds)
    }
  }

  /** `ingestion.py:104-130`: the simplified publication catalogue — the
    * triple unnest (S5) with null-publicationId entries dropped,
    * synchronous like the reference. */
  private def publicationCatalogue(r: Request): Response = {
    val pubs = graft.warehouse.NationalGas
      .catalogue(spark, graft.warehouse.NationalGas.fetchCatalogue())
      .collect().map { row =>
        jsonObj("publicationId" -> jsonStr(row.getString(0)),
          "name" -> Option(row.getString(1)).map(jsonStr).getOrElse("null"))
      }
    Response(200, pubs.mkString("[", ",", "]"))
  }

  /** `discovery.py:59-87`: newest raw payloads with the optional F3
    * JSON-path predicate (`(raw_payload ->> 'siteId')::int = :site_id`)
    * — cap 500, default 20, still zero-loss (payloads splice verbatim).
    * The predicate is a plan-side filter (get_json_object + try_cast),
    * so only matching payloads reach the bounded edge collect. */
  private def rawPreview(r: Request): Response = {
    val limit = r.int("limit").getOrElse(20)
    if (limit < 1 || limit > 500)
      return Response(400, jsonObj("detail" -> jsonStr("limit must be in [1, 500]")))
    // ALL parameter validation precedes any table access (a malformed
    // site_id must 400 even against an empty warehouse)
    val siteId = r.int("site_id")
    r.first("dataset_id") match {
      case None =>
        Response(400, jsonObj("detail" -> jsonStr("dataset_id is required")))
      case Some(ds) =>
        val payloads = table(wh.rawEvents).toSeq.flatMap { raw =>
          val base = raw.filter(col("dataset_id") === ds)
          val filtered = siteId match {
            case Some(v) =>
              base.filter(get_json_object(col("raw_payload"), "$.siteId")
                .try_cast("int") === v)
            case None => base
          }
          filtered
            .orderBy(col("ingested_at").desc, col("event_id").desc)
            .limit(limit)
            .select("raw_payload").collect().map(_.getString(0))
        }
        Response(200, payloads.mkString("[", ",", "]"))
    }
  }

  /** Pollable terminal state for a 202 job (see class doc). */
  private def jobStatus(r: Request): Response = {
    val id = r.path.stripPrefix("/v2/ingest/jobs/")
    jobs.asScala.get(id.toLongOption.getOrElse(-1L)) match {
      case Some(state) =>
        Response(200, jsonObj("job_id" -> id, "status" -> jsonStr(state)))
      case None =>
        Response(404, jsonObj("detail" -> jsonStr("no such job")))
    }
  }

  /** `export.py`: the filtered observation page as a CSV attachment —
    * same filter surface as /v2/data, same 50k hard cap as Exports.
    * STREAMED: the body goes out chunked from toLocalIterator (one
    * partition resident at a time), so the edge never holds the full
    * export — the reference's StreamingResponse contract. */
  private def exportCsv(r: Request): Response = {
    val limit = math.min(
      r.count("limit").getOrElse(graft.sources.Exports.DefaultPageRows),
      graft.sources.Exports.MaxExportRows)
    val header = "series_id,observation_time,value,quality_flag"
    val lines = table(wh.observations).map { obs =>
      OptionalFilters(obs,
        OptionalFilters.eqOpt(col("series_id"), r.first("series_id")))
        .orderBy("series_id", "observation_time")
        .limit(limit)
        .select(col("series_id"),
          date_format(col("observation_time"), "yyyy-MM-dd'T'HH:mm:ss").as("observation_time"),
          col("value").cast("string"), col("quality_flag"))
        .toLocalIterator.asScala.map { row =>
          "\n" + (0 until 4).map(i => Option(row.getString(i)).getOrElse("")).mkString(",")
        }
    }.getOrElse(Iterator.empty)
    Response(200, "", contentType = "text/csv",
      chunks = Some(Iterator(header) ++ lines))
  }

  /** Shared validation + newest-first raw page for the raw exports
    * (`export.py:14-31` / `36-62`): dataset_id required, limit in
    * [1, 50000], payloads ordered ingested_at DESC (event_id tie-break
    * for a stable page — the second-grain stamp alone isn't an order). */
  private def rawPage(r: Request): Either[Response, Array[String]] = {
    val limit = r.int("limit").getOrElse(graft.sources.Exports.DefaultPageRows)
    if (limit < 1 || limit > 50000)
      return Left(Response(400,
        jsonObj("detail" -> jsonStr("limit must be in [1, 50000]"))))
    r.first("dataset_id") match {
      case None =>
        Left(Response(400, jsonObj("detail" -> jsonStr("dataset_id is required"))))
      case Some(ds) =>
        Right(table(wh.rawEvents).toArray.flatMap(
          _.filter(col("dataset_id") === ds)
            .orderBy(col("ingested_at").desc, col("event_id").desc)
            .limit(limit)
            .select("raw_payload").collect().map(_.getString(0))))
    }
  }

  /** `export.py:13-31`: newest-first raw payloads as a JSON array. The
    * payloads ARE JSON (zero-loss landing), so they splice verbatim —
    * the exact JSONResponse(content=[payload, ...]) the reference
    * returns, no re-encode. */
  private def exportRawJson(r: Request): Response = rawPage(r) match {
    case Left(resp) => resp
    case Right(payloads) => Response(200, payloads.mkString("[", ",", "]"))
  }

  /** `export.py:36-62`: the raw page flattened json_normalize-style —
    * nested objects become dot-joined columns, the header is the union
    * of every payload's leaves (Spark's JSON schema union), missing
    * fields render empty — streamed as a CSV attachment with the
    * reference's Content-Disposition. */
  private def exportRawCsv(r: Request): Response = rawPage(r) match {
    case Left(resp) => resp
    case Right(payloads) =>
      val ds = r.first("dataset_id").get
      val disposition =
        Map("Content-Disposition" -> s"attachment; filename=${ds}_raw.csv")
      if (payloads.isEmpty)
        return Response(200, "", contentType = "text/csv", headers = disposition)
      import spark.implicits._
      // the page is already capped at 50k strings; one partition keeps
      // the newest-first row order through the JSON parse
      val parsed = spark.read.json(
        spark.createDataset(payloads.toIndexedSeq).coalesce(1))
      def leaves(prefix: String,
                 t: org.apache.spark.sql.types.StructType): Seq[String] =
        t.fields.toSeq.flatMap { f =>
          val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
          f.dataType match {
            case st: org.apache.spark.sql.types.StructType => leaves(name, st)
            case _ => Seq(name)
          }
        }
      val cols = leaves("", parsed.schema)
      val flat = parsed.select(cols.map(c => col(c).cast("string").as(c)): _*)
      def cell(v: String): String =
        if (v == null) ""
        else if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + v.replace("\"", "\"\"") + "\""
        else v
      val header = cols.map(cell).mkString(",")
      val lines = flat.toLocalIterator.asScala.map { row =>
        "\n" + cols.indices.map(i => cell(row.getString(i))).mkString(",")
      }
      Response(200, "", contentType = "text/csv", headers = disposition,
        chunks = Some(Iterator(header) ++ lines))
  }

  /** `gie.py:10-19`: synchronous delete-then-reload GIE ingest — the
    * handler returns only after the star is refreshed (no 202 here;
    * that asymmetry with /v2/ingest/gas is the reference's). */
  private def gieIngest(dataset: String, source: String)(r: Request): Response = {
    if (r.method != "POST")
      return Response(405, jsonObj("detail" -> jsonStr("use POST")))
    val country = r.first("country")
    Gie.ingest(spark, wh, dataset, source, country, gieUrl)
    Response(200, jsonObj(
      "status" -> jsonStr("completed"),
      "dataset" -> jsonStr(dataset),
      "country" -> country.map(jsonStr).getOrElse("null")))
  }

  /** `gie.py:22-58`: the 3-way star read with the F2 dynamic WHERE —
    * source required, country/variable/date-range optional, page
    * capped at the reference's le=5000, newest first. */
  private def gieData(r: Request): Response = {
    val limit = r.int("limit").getOrElse(100)
    if (limit > 5000 || limit < 0)
      return Response(400, jsonObj("detail" -> jsonStr("limit must be in [0, 5000]")))
    r.first("source") match {
      case None =>
        Response(400, jsonObj("detail" -> jsonStr("source is required")))
      case Some(src) =>
        val rows = (for {
          daily <- table(Gie.dailyPath(wh))
          series <- table(Gie.seriesPath(wh))
          assets <- table(Gie.assetsPath(wh))
        } yield Gie.dataQuery(daily, series, assets, src,
          r.first("country"), r.first("variable"),
          r.first("start_date"), r.first("end_date"), limit).collect())
          .getOrElse(Array.empty)
        val body = rows.map { row =>
          jsonObj(
            "date" -> jsonStr(row.getDate(0).toString),
            "value" -> (if (row.isNullAt(1)) "null" else row.getDouble(1).toString),
            "variable" -> jsonStr(row.getString(2)),
            "country" -> jsonStr(row.getString(3)))
        }.mkString("[", ",", "]")
        Response(200, body)
    }
  }

  // ------------------------------------------------------------------ json

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jsonObj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${jsonStr(k)}:$v" }.mkString("{", ",", "}")
}
