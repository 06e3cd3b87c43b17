package graft

import java.io.ByteArrayOutputStream
import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, current_timestamp, lit}

import graft.serving.QueryServer
import graft.warehouse.Upsert
import graft.warehouse.Ingest.Warehouse

/** End-to-end drive of the serving edge over a real loopback socket:
  * POST /v2/ingest/gas → 202 → background REST fetch through the DSv2
  * chunked source → five-stage warehouse ingest → GET /v2/data pages the
  * result, discovery endpoints read the catalogs, validation 400s fire,
  * and the CSV export round-trips. The REST hop uses the stub generator
  * (no url) — LoopbackRestSpec already proves the live-socket transport;
  * this spec proves the API process wiring around it.
  */
class QueryServerSpec extends SparkSpec {

  private def http(method: String, url: String): (Int, String) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000)
    val status = conn.getResponseCode
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val out = new ByteArrayOutputStream()
    if (is != null) {
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      is.close()
    }
    (status, new String(out.toByteArray, StandardCharsets.UTF_8))
  }

  /** Like [[http]] but also returns the response headers (for the
    * chunked-transfer and attachment-disposition assertions). */
  private def httpFull(method: String, url: String): (Int, String, Map[String, String]) = {
    val conn = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(10000)
    conn.setReadTimeout(120000)
    val status = conn.getResponseCode
    import scala.jdk.CollectionConverters._
    // header-name case varies by JDK response path: normalize to lower
    val headers = conn.getHeaderFields.asScala.collect {
      case (k, vs) if k != null => k.toLowerCase -> vs.asScala.mkString(",")
    }.toMap
    val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
    val out = new ByteArrayOutputStream()
    if (is != null) {
      val buf = new Array[Byte](8192)
      var n = is.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = is.read(buf) }
      is.close()
    }
    (status, new String(out.toByteArray, StandardCharsets.UTF_8), headers)
  }

  private def await(cond: => Boolean, ms: Long = 120000): Boolean = {
    val deadline = System.currentTimeMillis() + ms
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    cond
  }

  private def withServer[A](body: (QueryServer, Warehouse) => A): A = {
    val root = Files.createTempDirectory("graft-serve").toString
    val wh = Warehouse(root)
    val srv = new QueryServer(spark, wh).start()
    try body(srv, wh) finally srv.stop()
  }

  /** POST the stub gas ingest for [from, to] and wait for its job. */
  private def ingestGas(srv: QueryServer, from: String, to: String): Unit = {
    val (st, body) = http("POST",
      s"${srv.url}/v2/ingest/gas?from_date=$from&to_date=$to")
    assert(st === 202, body)
    val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
    assert(await {
      http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
    }, "ingest job did not finish")
  }

  test("serving edge: 202 ingest → background drain → data/discovery/export round-trip") {
    withServer { (srv, wh) =>
      // -- health (health.py)
      val (hs, hb) = http("GET", s"${srv.url}/health")
      assert(hs === 200 && hb.contains("ok"))

      // -- validation 400s BEFORE any ingest (ingestion.py:23-31)
      val (bad1, body1) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-13-77&to_date=2024-01-02")
      assert(bad1 === 400 && body1.contains("Invalid date format"))
      val (bad2, body2) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-01-05&to_date=2024-01-02")
      assert(bad2 === 400 && body2.contains("to_date must be >= from_date"))
      // GET on the ingest route is not an accepted verb
      val (badVerb, _) = http("GET",
        s"${srv.url}/v2/ingest/gas?from_date=2024-01-01&to_date=2024-01-02")
      assert(badVerb === 405)

      // -- 202 accepted, then poll the job to its terminal state
      val (st, body) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-01-01&to_date=2024-01-04")
      assert(st === 202, body)
      assert(body.contains("\"status\":\"accepted\"") && body.contains("GAS_QUALITY"))
      val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      assert(await {
        http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
      }, "ingest job did not finish")

      // -- the warehouse now serves: 4 days × 3 sites × 3 metrics
      val obs = spark.read.parquet(wh.observations)
      assert(obs.count() === 4L * 3 * 3)

      // -- /v2/data full page, grouped per series
      val (ds0, all) = http("GET", s"${srv.url}/v2/data?limit=1000")
      assert(ds0 === 200)
      // 9 series (3 sites × 3 metrics), each with 4 points
      assert("\"series_id\"".r.findAllIn(all).length === 9)
      assert("\"timestamp\"".r.findAllIn(all).length === 36)

      // -- include_raw (routes.py:57): default null, true → each point
      // serves its landed source-row JSON verbatim
      assert("\"raw_payload\":null".r.findAllIn(all).length === 36,
        "default include_raw=false must render raw_payload: null")
      val (_, withRaw) = http("GET", s"${srv.url}/v2/data?limit=1000&include_raw=true")
      assert(!withRaw.contains("\"raw_payload\":null"), "payloads must be served")
      // the payload is the wide source row: time + site + the 3 metrics
      assert("\"raw_payload\":\\{\"ts\":".r.findAllIn(withRaw).length === 36, withRaw.take(400))
      for (m <- graft.sources.v2.ChunkedRestSource.Metrics)
        assert(withRaw.contains(s""""$m":"""), s"payload must carry metric $m")

      // -- single-series filter + value band + paging
      val sid = "\"series_id\":\"([^\"]+)\"".r.findFirstMatchIn(all).get.group(1)
      val (_, one) = http("GET", s"${srv.url}/v2/data?series_id=$sid")
      assert("\"series_id\"".r.findAllIn(one).length === 1)
      assert("\"timestamp\"".r.findAllIn(one).length === 4)
      val (_, paged) = http("GET", s"${srv.url}/v2/data?series_id=$sid&limit=2&offset=2")
      assert("\"timestamp\"".r.findAllIn(paged).length === 2)
      // paged points are the LAST two of the ordered four — disjoint page
      val tsOf = (s: String) => "\"timestamp\":\"([^\"]+)\"".r
        .findAllMatchIn(s).map(_.group(1)).toSeq
      assert(tsOf(paged) === tsOf(one).drop(2))
      // stub values sit in [40, 50): the band filter keeps everything,
      // an impossible band keeps nothing
      val (_, banded) = http("GET", s"${srv.url}/v2/data?min_value=40&max_value=50")
      assert("\"timestamp\"".r.findAllIn(banded).length === 36)
      val (_, none) = http("GET", s"${srv.url}/v2/data?min_value=99")
      assert(none === "[]")
      // limit over the reference cap → 400
      assert(http("GET", s"${srv.url}/v2/data?limit=6000")._1 === 400)

      // -- discovery (discovery.py)
      val (_, dsets) = http("GET", s"${srv.url}/v2/discovery/datasets")
      assert(dsets === "[\"GAS_QUALITY\"]")
      val (_, flds) = http("GET",
        s"${srv.url}/v2/discovery/fields?dataset_id=GAS_QUALITY")
      for (f <- Seq("ts", "site", "WOBBE", "CV", "SG"))
        assert(flds.contains(s"""\"field\":\"$f\""""), s"missing field $f")
      assert(http("GET", s"${srv.url}/v2/discovery/fields")._1 === 400)
      val (_, smp) = http("GET",
        s"${srv.url}/v2/discovery/sample?dataset_id=GAS_QUALITY&limit=3")
      assert("\\\\\"site\\\\\"".r.findAllIn(smp).length === 3)

      // -- CSV export (export.py): header + capped rows, STREAMED —
      // chunked transfer encoding, bytes identical to the buffered form
      val (csvSt, csv, csvHdr) = httpFull("GET",
        s"${srv.url}/v2/export/data.csv?series_id=$sid&limit=2")
      assert(csvSt === 200)
      assert(csvHdr.get("transfer-encoding").exists(_.contains("chunked")),
        s"export must stream chunked: $csvHdr")
      val lines = csv.split("\n")
      assert(lines.head === "series_id,observation_time,value,quality_flag")
      assert(lines.length === 3)
      assert(lines(1).startsWith(s"$sid,"))

      // -- ingest is idempotent end-to-end: replaying the same window
      // changes nothing (the reference's crash-recovery contract)
      val (st2, body2b) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-01-01&to_date=2024-01-04")
      assert(st2 === 202)
      val jobId2 = "\"job_id\":(\\d+)".r.findFirstMatchIn(body2b).get.group(1)
      assert(await {
        http("GET", s"${srv.url}/v2/ingest/jobs/$jobId2")._2.contains("done")
      })
      assert(spark.read.parquet(wh.observations).count() === 4L * 3 * 3)
    }
  }

  test("full reference loop over real sockets: 202 ingest fetches the live REST API with retries") {
    // the serving edge AND the chunked REST transport composed: the
    // background job fetches over an actual loopback connection with a
    // scripted 429 storm on the first chunk — the complete
    // POST /v2/ingest/gas → NationalGas API → warehouse → GET /v2/data
    // reference loop, every hop a real socket
    val fx = new GasFixtureServer
    try {
      fx.synchronized {
        fx.script("2024-03-01") = scala.collection.mutable.Queue(429, 503)
      }
      val root = Files.createTempDirectory("graft-serve-live").toString
      val wh = Warehouse(root)
      val srv = new QueryServer(spark, wh, restUrl = Some(fx.url)).start()
      try {
        val (st, body) = http("POST",
          s"${srv.url}/v2/ingest/gas?from_date=2024-03-01&to_date=2024-03-04")
        assert(st === 202)
        val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
        assert(await {
          http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
        }, "live-socket ingest did not finish")
        // the scripted storm forced two retries on chunk 1; chunk 2 clean
        assert(fx.calls("2024-03-01") === 3, s"calls=${fx.calls}")
        assert(fx.calls("2024-03-03") === 1)
        // 4 days × 3 sites × 3 metrics through the live transport
        assert(spark.read.parquet(wh.observations).count() === 4L * 3 * 3)
        val (ds, all) = http("GET", s"${srv.url}/v2/data?limit=1000")
        assert(ds === 200)
        assert("\"timestamp\"".r.findAllIn(all).length === 36)
      } finally srv.stop()
    } finally fx.stop()
  }

  test("GIE routes: synchronous delete+reload ingest → star-join read with dynamic WHERE") {
    withServer { (srv, wh) =>
      import graft.warehouse.Gie
      // source is required; an un-ingested star serves the empty page
      assert(http("GET", s"${srv.url}/v2/gie/data")._1 === 400)
      assert(http("GET", s"${srv.url}/v2/gie/data?source=GIE_AGSI")._2 === "[]")
      assert(http("GET", s"${srv.url}/v2/gie/agsi")._1 === 405)

      // -- synchronous ingest (gie.py:10-13): response IS completion
      val (s1, b1) = http("POST", s"${srv.url}/v2/gie/agsi")
      assert(s1 === 200, b1)
      assert(b1.contains("\"status\":\"completed\"") && b1.contains("\"AGSI\""))
      assert(b1.contains("\"country\":null"))

      // get-or-create registered the full dimension set: 3 countries ×
      // 6 variables; the fact holds 54 rows minus the one unparseable
      // ('n/a' consumption) the transformer skips, with the NULL-like
      // trend kept as value null
      assert(spark.read.parquet(Gie.assetsPath(wh)).count() === 3)
      assert(spark.read.parquet(Gie.seriesPath(wh)).count() === 18)
      assert(spark.read.parquet(Gie.dailyPath(wh)).count() === 53)

      val (ds, all) = http("GET", s"${srv.url}/v2/gie/data?source=GIE_AGSI&limit=5000")
      assert(ds === 200)
      assert("\"date\"".r.findAllIn(all).length === 53)
      assert(all.contains("\"value\":null"), "NULL-like trend must surface as null")
      assert(!all.contains("\"variable\":\"info\""), "excluded keys must not become series")

      // dynamic WHERE: country + variable + date range pins one row
      val (_, one) = http("GET", s"${srv.url}/v2/gie/data?source=GIE_AGSI" +
        "&country=Austria&variable=gasInStorage&start_date=2024-02-02&end_date=2024-02-02")
      assert("\"date\"".r.findAllIn(one).length === 1)
      assert(one.contains("\"value\":101.5") && one.contains("\"country\":\"Austria\""), one)

      // newest-first page: a limit-5 page is all from the last gas day
      val (_, top) = http("GET", s"${srv.url}/v2/gie/data?source=GIE_AGSI&limit=5")
      assert("\"date\":\"2024-02-03\"".r.findAllIn(top).length === 5)
      assert(http("GET", s"${srv.url}/v2/gie/data?source=GIE_AGSI&limit=6000")._1 === 400)

      // -- replaying the ingest is idempotent (delete-then-reload)
      assert(http("POST", s"${srv.url}/v2/gie/agsi")._1 === 200)
      assert(spark.read.parquet(Gie.dailyPath(wh)).count() === 53)

      // -- a country-scoped re-ingest REPLACES the whole source slice
      // (service.py deletes by source, not by country): only Austria
      // remains — 3 days × 6 variables
      assert(http("POST", s"${srv.url}/v2/gie/agsi?country=Austria")._1 === 200)
      val (_, scoped) = http("GET", s"${srv.url}/v2/gie/data?source=GIE_AGSI&limit=5000")
      assert("\"date\"".r.findAllIn(scoped).length === 18)
      assert(!scoped.contains("Belgium") && !scoped.contains("Germany"))

      // -- ALSI coexists: its nested transmission dict flattens to
      // key_subkey variables, its unparseable 'note' never becomes a
      // series, and its delete-reload leaves the AGSI slice untouched
      assert(http("POST", s"${srv.url}/v2/gie/alsi")._1 === 200)
      val (_, alsi) = http("GET", s"${srv.url}/v2/gie/data?source=GIE_ALSI&limit=5000")
      assert("\"date\"".r.findAllIn(alsi).length === 36) // 3 countries × 3 days × 4 vars
      assert(alsi.contains("\"variable\":\"transmission_entry\""))
      assert(alsi.contains("\"variable\":\"transmission_exit\""))
      assert(!alsi.contains("transmission_note"))
      val (_, agsiAfter) = http("GET", s"${srv.url}/v2/gie/data?source=GIE_AGSI&limit=5000")
      assert("\"date\"".r.findAllIn(agsiAfter).length === 18, "ALSI reload must not touch AGSI")
    }
  }

  test("raw exports: verbatim JSON array; json_normalize CSV attachment, both validated") {
    withServer { (srv, wh) =>
      // validation (export.py Query bounds)
      assert(http("GET", s"${srv.url}/v2/export/raw/json")._1 === 400)
      assert(http("GET", s"${srv.url}/v2/export/raw/json?dataset_id=AGSI&limit=0")._1 === 400)
      assert(http("GET", s"${srv.url}/v2/export/raw/json?dataset_id=AGSI&limit=60000")._1 === 400)

      // two raw landings, second country-scoped (the newer one)
      assert(http("POST", s"${srv.url}/v2/gie/agsi")._1 === 200)
      assert(http("POST", s"${srv.url}/v2/gie/agsi?country=Austria")._1 === 200)

      val (js, jb) = http("GET", s"${srv.url}/v2/export/raw/json?dataset_id=AGSI")
      assert(js === 200)
      assert(jb.startsWith("[{\"data\":["), "payloads must splice verbatim")
      assert("\\{\"data\":".r.findAllIn(jb).length === 2)
      // newest-first: limit=1 returns the Austria-scoped payload
      val (_, newest) = http("GET", s"${srv.url}/v2/export/raw/json?dataset_id=AGSI&limit=1")
      assert(newest.contains("Austria") && !newest.contains("Belgium"))

      // nested payloads land directly for the CSV flatten proof
      import ss.implicits._
      Seq(
        ("e1", "NESTED", """{"a":"1","b":{"c":"x,y","d":"2"}}"""),
        ("e2", "NESTED", """{"a":"3","b":{"c":"z","d":""}}"""))
        .toDF("event_id", "dataset_id", "raw_payload")
        .withColumn("series_hint", org.apache.spark.sql.functions.lit(null).cast("string"))
        .withColumn("ingested_at", org.apache.spark.sql.functions.current_timestamp())
        .select("event_id", "dataset_id", "series_hint", "raw_payload", "ingested_at")
        .write.mode("append").parquet(wh.rawEvents)

      val (cs, cb, ch) = httpFull("GET",
        s"${srv.url}/v2/export/raw/csv?dataset_id=NESTED")
      assert(cs === 200)
      assert(ch.get("transfer-encoding").exists(_.contains("chunked")),
        s"raw CSV must stream chunked: $ch")
      assert(ch.get("content-disposition")
        .exists(_ == "attachment; filename=NESTED_raw.csv"), ch.toString)
      val lines = cb.split("\n")
      // json_normalize shape: nested keys dot-joined, union header
      assert(lines.head === "a,b.c,b.d", lines.head)
      assert(lines.toSet.contains("1,\"x,y\",2"), cb) // comma value quoted
      assert(lines.toSet.contains("3,z,"), cb) // empty string renders empty
      assert(lines.length === 3)
    }
  }

  test("per-dataset ingest routes: ENTSOG, instantaneous flow, publications, catalogue") {
    withServer { (srv, wh) =>
      def drain(body: String): Unit = {
        val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
        assert(await {
          http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
        }, s"ingest job $jobId did not finish: " +
          http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2)
      }

      // -- validation: missing window, ENTSOG's hard filter rule
      // (client.py:139-144), missing publication ids, wrong verb
      assert(http("POST", s"${srv.url}/v2/ingest/entsog")._1 === 400)
      val (es, eb) = http("POST",
        s"${srv.url}/v2/ingest/entsog?from_date=2024-05-01&to_date=2024-05-03")
      assert(es === 400 && eb.contains("pointKey + directionKey"), eb)
      assert(http("GET", s"${srv.url}/v2/ingest/entsog")._1 === 405)
      assert(http("POST", s"${srv.url}/v2/ingest/gas-publications?from_date=2024-06-01&to_date=2024-06-02")._1 === 400)
      assert(http("GET", s"${srv.url}/v2/ingest/instantaneous")._1 === 405)
      // malformed/inverted windows 400 SYNCHRONOUSLY on every ingest
      // route — never a 202 whose background job dies unobserved
      val (ms, mb) = http("POST", s"${srv.url}/v2/ingest/entsog" +
        "?from_date=2024-99-01&to_date=2024-05-03&indicators=Physical%20Flow")
      assert(ms === 400 && mb.contains("Invalid date format"), mb)
      assert(http("POST", s"${srv.url}/v2/ingest/entsog" +
        "?from_date=2024-05-09&to_date=2024-05-03&indicators=Physical%20Flow")._1 === 400)
      assert(http("POST", s"${srv.url}/v2/ingest/gas-publications" +
        "?from_date=bad&to_date=2024-06-02&publication_ids=PUBOB28")._1 === 400)

      // -- ENTSOG (ingestion.py:53-87): indicator filter, 202 + filters
      // echoed, then the warehouse serves 4 (indicator, point, direction)
      // series — operator is NOT part of the series key, so same-key rows
      // from both operators LWW-collapse, exactly like the reference's
      // ON CONFLICT upsert over make_series_id(indicator, point, direction)
      val (st1, b1) = http("POST", s"${srv.url}/v2/ingest/entsog" +
        "?from_date=2024-05-01&to_date=2024-05-03&indicators=Physical%20Flow")
      assert(st1 === 202, b1)
      assert(b1.contains("\"dataset\":\"ENTSOG\"") &&
        b1.contains("\"indicators\":[\"Physical Flow\"]") &&
        b1.contains("\"operator_keys\":null"), b1)
      drain(b1)
      val series = spark.read.parquet(wh.metaSeries)
        .filter(org.apache.spark.sql.functions.col("dataset_id") === "ENTSOG")
        .collect().map(_.getString(0)).sorted
      assert(series.toSeq === Seq(
        "NG_ENTSOG_PHYSICAL_FLOW_ITP-00043_ENTRY",
        "NG_ENTSOG_PHYSICAL_FLOW_ITP-00043_EXIT",
        "NG_ENTSOG_PHYSICAL_FLOW_ITP-00091_ENTRY",
        "NG_ENTSOG_PHYSICAL_FLOW_ITP-00091_EXIT"))
      // 4 series × 3 days minus the 2 unparseable 'n/a' slots
      // (point ITP-00091, day 2) the transformer skips
      val obs = spark.read.parquet(wh.observations)
      assert(obs.count() === 10)
      // flowStatus rides as the quality flag (transformer.py:94)
      val flags = obs.select("quality_flag").distinct()
        .collect().map(_.getString(0)).toSet
      assert(flags === Set("Confirmed", "Provisional"))
      // the raw landing is zero-loss: every fetched record, including
      // the skipped-value ones (24 records: 2 ops × 2 pts × 2 dirs × 3 days)
      assert(spark.read.parquet(wh.rawEvents)
        .filter(org.apache.spark.sql.functions.col("dataset_id") === "ENTSOG")
        .count() === 24)
      // /v2/data serves the dataset through the same edge
      val (_, page) = http("GET", s"${srv.url}/v2/data?dataset_id=ENTSOG&limit=1000")
      assert("\"series_id\"".r.findAllIn(page).length === 4)
      assert("\"timestamp\"".r.findAllIn(page).length === 10)

      // -- INSTANTANEOUS_FLOW (ingestion.py:90-101): 3-level unnest →
      // 3 site series; the two blocks share applicableAt stamps so the
      // 12 detail rows LWW-collapse to 6 observations
      val (st2, b2) = http("POST", s"${srv.url}/v2/ingest/instantaneous")
      assert(st2 === 202 && b2.contains("\"dataset\":\"INSTANTANEOUS_FLOW\""), b2)
      drain(b2)
      val instSeries = spark.read.parquet(wh.metaSeries)
        .filter(org.apache.spark.sql.functions.col("dataset_id") === "INSTANTANEOUS_FLOW")
        .collect().map(_.getString(0)).sorted
      assert(instSeries.toSeq === Seq(
        "NG_INSTANTANEOUS_FLOW_BACTON_IP_FLOWRATE",
        "NG_INSTANTANEOUS_FLOW_EASINGTON_FLOWRATE",
        "NG_INSTANTANEOUS_FLOW_ST_FERGUS_FLOWRATE"))
      val (_, inst) = http("GET",
        s"${srv.url}/v2/data?dataset_id=INSTANTANEOUS_FLOW&limit=1000")
      assert("\"timestamp\"".r.findAllIn(inst).length === 6)

      // -- GAS_PUBLICATIONS (ingestion.py:133-155): one series per
      // publication id; the blank first value is skipped
      val (st3, b3) = http("POST", s"${srv.url}/v2/ingest/gas-publications" +
        "?from_date=2024-06-01&to_date=2024-06-02" +
        "&publication_ids=PUBOB28&publication_ids=PUBOB29")
      assert(st3 === 202 && b3.contains("\"dataset\":\"GAS_PUBLICATIONS\""), b3)
      drain(b3)
      val pubSeries = spark.read.parquet(wh.metaSeries)
        .filter(org.apache.spark.sql.functions.col("dataset_id") === "GAS_PUBLICATIONS")
        .collect().map(_.getString(0)).sorted
      assert(pubSeries.toSeq === Seq(
        "NG_GAS_PUBLICATIONS_PUBOB28", "NG_GAS_PUBLICATIONS_PUBOB29"))
      val (_, pubs) = http("GET",
        s"${srv.url}/v2/data?dataset_id=GAS_PUBLICATIONS&limit=1000")
      assert("\"timestamp\"".r.findAllIn(pubs).length === 3)

      // field discovery ran for every dataset (run_all.py:82)
      val cataloged = spark.read.parquet(wh.fieldCatalog)
        .select("dataset_id").distinct().collect().map(_.getString(0)).toSet
      assert(cataloged === Set("ENTSOG", "INSTANTANEOUS_FLOW", "GAS_PUBLICATIONS"))

      // -- publication catalogue (ingestion.py:104-130): triple unnest,
      // the id-less draft entry dropped, synchronous GET
      val (cs, cat) = http("GET", s"${srv.url}/v2/ingest/publication-catalogue")
      assert(cs === 200)
      assert("\"publicationId\"".r.findAllIn(cat).length === 3, cat)
      for (p <- Seq("PUBOB28", "PUBOB29", "PUBOB85"))
        assert(cat.contains(s"""\"publicationId\":\"$p\""""), cat)
      assert(!cat.contains("unpublished draft"), "null-id entries must drop")
    }
  }

  test("typed-param parity: a malformed number is a 400 on every route, never a 500") {
    withServer { (srv, _) =>
      Seq(
        "/v2/data?limit=abc" -> "limit must be an integer",
        "/v2/data?offset=1.5" -> "offset must be an integer",
        "/v2/data?min_value=low" -> "min_value must be a number",
        "/v2/data?max_value=high" -> "max_value must be a number",
        "/v2/data?start=abc" -> "start must be a timestamp",
        "/v2/data?end=2024-13-45" -> "end must be a timestamp",
        "/v2/discovery/sample?dataset_id=GQ&limit=ten" -> "limit must be an integer",
        "/v2/discovery/raw?dataset_id=GQ&limit=ten" -> "limit must be an integer",
        "/v2/export/data.csv?limit=ten" -> "limit must be an integer",
        "/v2/export/raw/json?dataset_id=GQ&limit=ten" -> "limit must be an integer",
        "/v2/export/raw/csv?dataset_id=GQ&limit=ten" -> "limit must be an integer",
        "/v2/gie/data?source=GIE_AGSI&limit=ten" -> "limit must be an integer",
        "/v2/discovery/sample?dataset_id=GQ&limit=-1" -> "limit must be >= 0",
        "/v2/export/data.csv?limit=-1" -> "limit must be >= 0"
      ).foreach { case (q, detail) =>
        val (status, body) = http("GET", s"${srv.url}$q")
        assert(status === 400 && body.contains(detail), s"$q -> $status $body")
      }
    }
  }

  test("raw preview route: newest-first, JSON-path siteId predicate, cap 500") {
    withServer { (srv, wh) =>
      // validation (discovery.py:62-63 Query bounds)
      assert(http("GET", s"${srv.url}/v2/discovery/raw")._1 === 400)
      assert(http("GET", s"${srv.url}/v2/discovery/raw?dataset_id=GQ&limit=0")._1 === 400)
      assert(http("GET", s"${srv.url}/v2/discovery/raw?dataset_id=GQ&limit=501")._1 === 400)
      // typed-param parity: a non-numeric site_id is a 400, never a 500
      val (ts, tb) = http("GET",
        s"${srv.url}/v2/discovery/raw?dataset_id=GQ&site_id=abc")
      assert(ts === 400 && tb.contains("site_id must be an integer"), tb)

      // land payloads with siteId keys directly (the reference's
      // GAS_QUALITY payload shape, discovery.py:73)
      import ss.implicits._
      Seq(
        ("e1", "GQ", """{"siteId":17,"wobbe":51.2}""", "2024-01-01 00:00:01"),
        ("e2", "GQ", """{"siteId":17,"wobbe":51.4}""", "2024-01-01 00:00:02"),
        ("e3", "GQ", """{"siteId":23,"wobbe":49.9}""", "2024-01-01 00:00:03"),
        ("e4", "GQ", """{"wobbe":48.0}""", "2024-01-01 00:00:04"),
        ("e5", "OTHER", """{"siteId":17,"x":1}""", "2024-01-01 00:00:05"))
        .toDF("event_id", "dataset_id", "raw_payload", "t")
        .select(org.apache.spark.sql.functions.col("event_id"),
          org.apache.spark.sql.functions.col("dataset_id"),
          org.apache.spark.sql.functions.lit(null).cast("string").as("series_hint"),
          org.apache.spark.sql.functions.col("raw_payload"),
          org.apache.spark.sql.functions.to_timestamp(
            org.apache.spark.sql.functions.col("t")).as("ingested_at"))
        .write.mode("append").parquet(wh.rawEvents)

      // unfiltered: newest first, dataset-scoped, verbatim payloads
      val (s0, all) = http("GET", s"${srv.url}/v2/discovery/raw?dataset_id=GQ")
      assert(s0 === 200)
      assert(all === """[{"wobbe":48.0},{"siteId":23,"wobbe":49.9},""" +
        """{"siteId":17,"wobbe":51.4},{"siteId":17,"wobbe":51.2}]""", all)

      // siteId predicate: only matching payloads, still newest first
      val (_, site) = http("GET",
        s"${srv.url}/v2/discovery/raw?dataset_id=GQ&site_id=17")
      assert(site ===
        """[{"siteId":17,"wobbe":51.4},{"siteId":17,"wobbe":51.2}]""", site)

      // limit bounds the newest-first page
      val (_, one) = http("GET",
        s"${srv.url}/v2/discovery/raw?dataset_id=GQ&site_id=17&limit=1")
      assert(one === """[{"siteId":17,"wobbe":51.4}]""", one)

      // no matches → empty array
      assert(http("GET",
        s"${srv.url}/v2/discovery/raw?dataset_id=GQ&site_id=99")._2 === "[]")
    }
  }

  test("GasClient shim: get_history semantics over the live /v2/data route") {
    withServer { (srv, wh) =>
      val (st, body) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-01-01&to_date=2024-01-04")
      assert(st === 202)
      val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      assert(await {
        http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
      })
      val sid = "NG_GAS_QUALITY_STFERGUS_WOBBE"

      // client.py:16-17: one of last_days / (start & end) is required,
      // same message
      val client = new graft.serving.GasClient(spark, srv.url)
      val err = intercept[IllegalArgumentException] {
        client.getHistory(sid, start = Some("2024-01-01"))
      }
      assert(err.getMessage.contains("Provide either last_days or start & end"))

      // explicit window: sorted (observation_time, value) frame equal to
      // the engine-side get_history operator (q_f1_get_history's op)
      val viaClient = client.getHistory(sid,
        start = Some("2024-01-01"), end = Some("2024-01-05")).collect()
      val engine = graft.warehouse.Ingest.getHistory(spark, wh, sid,
        "2024-01-01 00:00:00", "2024-01-05 00:00:00").collect()
      assert(viaClient.length === 4)
      assert(viaClient.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq ===
        engine.map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq)

      // last_days window against an injected clock (client.py:19-21):
      // [now − 2 days, now] spans the last 3 stub days
      val fixedNow = java.time.Instant.parse("2024-01-04T00:00:00Z")
      val lookback = new graft.serving.GasClient(spark, srv.url, () => fixedNow)
        .getHistory(sid, lastDays = Some(2)).collect()
      assert(lookback.length === 3)
      assert(lookback.map(_.getTimestamp(0).toInstant.toString).toSeq ===
        Seq("2024-01-02T00:00:00Z", "2024-01-03T00:00:00Z", "2024-01-04T00:00:00Z"))

      // empty page → empty, correctly-typed frame
      val empty = client.getHistory("NO_SUCH_SERIES",
        start = Some("2024-01-01"), end = Some("2024-01-05"))
      assert(empty.count() === 0)
      assert(empty.schema.fieldNames.toSeq === Seq("observation_time", "value"))
    }
  }

  test("site-filtered ingest registers only the requested site's series") {
    withServer { (srv, wh) =>
      val (st, body) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-02-01&to_date=2024-02-02&site_ids=BACTON")
      assert(st === 202)
      assert(body.contains("\"site_ids\":[\"BACTON\"]"))
      val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      assert(await {
        http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
      })
      val series = spark.read.parquet(wh.metaSeries).collect()
      assert(series.length === 3) // one per metric, single site
      assert(series.forall(_.getAs[String]("series_id").contains("BACTON")))
      assert(http("GET", s"${srv.url}/v2/ingest/jobs/999")._1 === 404)
    }
  }

  test("/v2/data golden response shape: schemas.py byte-for-byte, include_raw both ways") {
    // The checked-in fixtures are the reference-shaped documents for
    // SeriesResponse/DataPoint (schemas.py:6-19 under
    // response_model=list[SeriesResponse]): pydantic field ORDER
    // (series_id, dataset_id, description, unit, frequency, points;
    // timestamp, value, quality_flag, raw_payload), None -> JSON null,
    // UTC instants with the Z suffix, raw_payload spliced verbatim when
    // include_raw=true and null otherwise. The ingest stub is
    // deterministic, so the bodies are byte-stable.
    def golden(name: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/$name").toURI)), "UTF-8")
    withServer { (srv, wh) =>
      val (st, body) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-01-01&to_date=2024-01-02")
      assert(st === 202)
      val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      assert(await {
        http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
      })
      val (s1, b1) = http("GET",
        s"${srv.url}/v2/data?series_id=NG_GAS_QUALITY_STFERGUS_WOBBE")
      assert(s1 === 200)
      assert(b1 === golden("golden_v2_data.json"))
      val (s2, b2) = http("GET",
        s"${srv.url}/v2/data?series_id=NG_GAS_QUALITY_STFERGUS_WOBBE&include_raw=true")
      assert(s2 === 200)
      assert(b2 === golden("golden_v2_data_raw.json"))
    }
  }

  test("pre-migration warehouse (meta without unit/frequency) serves the golden body") {
    // The DOCUMENTED deviation from the reference (QueryServer.data):
    // SeriesResponse declares unit/frequency REQUIRED str, so pydantic
    // would 500 on a meta row missing them — this engine instead
    // backfills the autoregister defaults ("UNKNOWN"/"intraday") at the
    // serving edge. Pin that fallback byte-for-byte for BOTH degraded
    // shapes: columns ABSENT entirely (a warehouse written before the
    // columns existed) and columns present but NULL. Because the gas
    // autoregister writes exactly those defaults, the rendered body
    // must equal the registered-meta golden — the assertion that breaks
    // if the serving fallback and the autoregister defaults ever drift
    // apart.
    def golden(name: String): String = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource(s"/$name").toURI)), "UTF-8")
    withServer { (srv, wh) =>
      val (st, body) = http("POST",
        s"${srv.url}/v2/ingest/gas?from_date=2024-01-01&to_date=2024-01-02")
      assert(st === 202)
      val jobId = "\"job_id\":(\\d+)".r.findFirstMatchIn(body).get.group(1)
      assert(await {
        http("GET", s"${srv.url}/v2/ingest/jobs/$jobId")._2.contains("done")
      })
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      def swapMeta(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
        val tmp = s"${wh.root}/meta_$tag"
        df.write.parquet(tmp)
        fs.delete(new org.apache.hadoop.fs.Path(wh.metaSeries), true)
        assert(fs.rename(new org.apache.hadoop.fs.Path(tmp),
          new org.apache.hadoop.fs.Path(wh.metaSeries)))
      }
      val meta = spark.read.parquet(wh.metaSeries).localCheckpoint()
      swapMeta(meta.drop("unit", "frequency"), "pre")
      val (s1, b1) = http("GET",
        s"${srv.url}/v2/data?series_id=NG_GAS_QUALITY_STFERGUS_WOBBE")
      assert(s1 === 200)
      assert(b1 === golden("golden_v2_data.json"))
      swapMeta(meta
        .withColumn("unit", org.apache.spark.sql.functions.lit(null).cast("string"))
        .withColumn("frequency", org.apache.spark.sql.functions.lit(null).cast("string")),
        "nul")
      val (s2, b2) = http("GET",
        s"${srv.url}/v2/data?series_id=NG_GAS_QUALITY_STFERGUS_WOBBE")
      assert(s2 === 200)
      assert(b2 === golden("golden_v2_data.json"))
    }
  }

  test("empty warehouse: every read route serves the empty page, never a 500") {
    // nothing landed yet: each route's tables are absent, which is the
    // empty page (class doc); data.csv keeps its header line. Valid
    // start/end values pass the timestamp parser on the way.
    withServer { (srv, _) =>
      Seq(
        "/v2/data",
        "/v2/data?series_id=S&start=2024-01-01&end=2024-01-02T00:00:00Z",
        "/v2/discovery/datasets",
        "/v2/discovery/fields?dataset_id=GQ",
        "/v2/discovery/sample?dataset_id=GQ",
        "/v2/discovery/raw?dataset_id=GQ",
        "/v2/export/raw/json?dataset_id=GQ",
        "/v2/gie/data?source=GIE_AGSI"
      ).foreach { q =>
        assert(http("GET", s"${srv.url}$q") === ((200, "[]")), q)
      }
      assert(http("GET", s"${srv.url}/v2/export/data.csv") ===
        ((200, "series_id,observation_time,value,quality_flag")))
      assert(http("GET", s"${srv.url}/v2/export/raw/csv?dataset_id=GQ") === ((200, "")))
    }
  }

  test("table resolver: a write behind the live server shows on the next request") {
    withServer { (srv, wh) =>
      ingestGas(srv, "2024-01-01", "2024-01-02")
      val sid = "NG_GAS_QUALITY_STFERGUS_WOBBE"
      val q = s"${srv.url}/v2/data?series_id=$sid&limit=1"
      val valueOf = (body: String) =>
        "\"value\":([^,]+),".r.findFirstMatchIn(body).get.group(1).toDouble
      // two reads: the second is served from the resolved tables
      val first = valueOf(http("GET", q)._2)
      assert(valueOf(http("GET", q)._2) === first)

      // overwrite swap: upsert a revised value from outside the server
      val revised = spark.read.parquet(wh.observations)
        .filter(col("series_id") === sid).orderBy("observation_time").limit(1)
        .withColumn("value", lit(first + 1000))
        .withColumn("ingestion_time", current_timestamp())
        .localCheckpoint()
      Upsert.upsert(spark, wh.observations, revised,
        Seq("series_id", "observation_time"), "ingestion_time")
      assert(valueOf(http("GET", q)._2) === first + 1000)

      // schema change: meta_series without `unit` serves the default,
      // then an overwrite that adds the column serves its value
      val meta = spark.read.parquet(wh.metaSeries).localCheckpoint()
      Upsert.overwriteInPlace(spark, wh.metaSeries, meta.drop("unit"))
      val (s1, b1) = http("GET", q)
      assert(s1 === 200 && b1.contains("\"unit\":\"UNKNOWN\""), b1)
      Upsert.overwriteInPlace(spark, wh.metaSeries, meta.withColumn("unit", lit("MJ/m3")))
      val (s2, b2) = http("GET", q)
      assert(s2 === 200 && b2.contains("\"unit\":\"MJ/m3\""), b2)
    }
  }

  test("swap lock: a read waits for a live writer's swap and never rolls it forward") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    import org.apache.hadoop.fs.Path
    withServer { (srv, wh) =>
      ingestGas(srv, "2024-01-01", "2024-01-02")
      val q = s"${srv.url}/v2/data?series_id=NG_GAS_QUALITY_STFERGUS_WOBBE&limit=1"
      val valueOf = (body: String) =>
        "\"value\":([^,]+),".r.findFirstMatchIn(body).get.group(1).toDouble
      val first = valueOf(http("GET", q)._2)
      // the writer's new table, staged the way overwriteInPlace stages it
      val (dst, staging, backup) = (new Path(wh.observations),
        new Path(wh.observations + ".staging"), new Path(wh.observations + ".backup"))
      spark.read.parquet(wh.observations).withColumn("value", col("value") + 1000)
        .localCheckpoint().write.parquet(staging.toString)
      val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val read = Upsert.withSwapLock(wh.observations) {
        // the writer, paused between its two renames
        assert(fs.rename(dst, backup))
        val read = Future(http("GET", q))
        Thread.sleep(1500)
        assert(!read.isCompleted, "the read did not wait for the writer's swap")
        assert(fs.exists(staging) && !fs.exists(dst), "the read rolled the swap forward")
        assert(fs.rename(staging, dst))
        fs.delete(backup, true)
        read
      }
      val (st, body) = Await.result(read, 2.minutes)
      assert(st === 200 && valueOf(body) === first + 1000, body)
    }
  }

  test("table resolver: a repeated /v2/data request skips both table reads") {
    // the first request over a fresh server reads observations and
    // meta_series (each read runs a schema-inference job) and collects
    // meta_series' rows; a repeat over the unchanged warehouse reuses
    // both frames and the rows, so it runs the page's job alone
    val wh = Warehouse(Files.createTempDirectory("graft-serve-jobs").toString)
    val builder = new QueryServer(spark, wh).start()
    try ingestGas(builder, "2024-01-01", "2024-01-02") finally builder.stop()
    val started = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val srv = new QueryServer(spark, wh).start()
    try {
      val q = s"${srv.url}/v2/data?series_id=NG_GAS_QUALITY_STFERGUS_WOBBE"
      def jobsOf(): Int = {
        ListenerBusDrain(spark.sparkContext)
        val before = started.get()
        assert(http("GET", q)._1 === 200)
        ListenerBusDrain(spark.sparkContext)
        started.get() - before
      }
      val first = jobsOf()
      val second = jobsOf()
      assert(second === 1, s"repeat ran $second jobs")
      assert(first - second === 3, s"first request $first jobs, repeat $second")
    } finally {
      srv.stop()
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  test("/v2/data keeps the inner join: orphan observations and unknown datasets stay out") {
    withServer { (srv, wh) =>
      ingestGas(srv, "2024-01-01", "2024-01-02")
      // an observation whose series has no meta_series row, and a series
      // of a second dataset; both ids sort before the gas series
      val obsRow = spark.read.parquet(wh.observations).limit(1)
      obsRow.withColumn("series_id", lit("AAA_ORPHAN")).localCheckpoint()
        .write.mode("append").parquet(wh.observations)
      obsRow.withColumn("series_id", lit("AAB_OTHER")).localCheckpoint()
        .write.mode("append").parquet(wh.observations)
      spark.read.parquet(wh.metaSeries).limit(1)
        .withColumn("series_id", lit("AAB_OTHER"))
        .withColumn("dataset_id", lit("OTHER")).localCheckpoint()
        .write.mode("append").parquet(wh.metaSeries)
      val pointsOf = (body: String) =>
        "\"series_id\":\"([^\"]+)\"[^\\]]*\"points\":\\[([^\\]]*)\\]".r
          .findAllMatchIn(body).flatMap { m =>
            "\"timestamp\":\"([^\"]+)\"".r.findAllMatchIn(m.group(2))
              .map(t => (m.group(1), t.group(1)))
          }.toSeq

      // 9 gas series × 2 days, plus the other dataset's one point
      val all = pointsOf(http("GET", s"${srv.url}/v2/data?limit=1000")._2)
      assert(all.length === 19, all)
      assert(!all.exists(_._1 == "AAA_ORPHAN"), all)
      assert(all.head._1 === "AAB_OTHER", all)
      assert(pointsOf(http("GET", s"${srv.url}/v2/data?offset=1&limit=2")._2) ===
        all.slice(1, 3))
      assert(http("GET", s"${srv.url}/v2/data?series_id=AAA_ORPHAN")._2 === "[]")

      // the dataset filter applies before paging
      val gas = pointsOf(http("GET", s"${srv.url}/v2/data?dataset_id=GAS_QUALITY&limit=1000")._2)
      assert(gas === all.tail)
      assert(pointsOf(http("GET",
        s"${srv.url}/v2/data?dataset_id=GAS_QUALITY&offset=3&limit=2")._2) === gas.slice(3, 5))
      assert(http("GET", s"${srv.url}/v2/data?dataset_id=OTHER")._2.contains("AAB_OTHER"))

      // a dataset that matches no series serves the empty page
      assert(http("GET", s"${srv.url}/v2/data?dataset_id=NO_SUCH_DATASET") === ((200, "[]")))
    }
  }

  test("responses are not held by Nagle: back-to-back requests answer in milliseconds") {
    withServer { (srv, wh) =>
      // keep-alive GETs, as HttpURLConnection sends them by default: a
      // body held for the client's delayed ACK reads about 40 ms each
      val ms = (1 to 20).map { _ =>
        val t0 = System.nanoTime()
        assert(http("GET", s"${srv.url}/health") === ((200, "{\"status\":\"ok\"}")))
        (System.nanoTime() - t0) / 1e6
      }.sorted
      assert(ms(ms.length / 2) < 20.0, s"/health latencies (ms): $ms")

      // a streamed body still round-trips whole
      ingestGas(srv, "2024-01-01", "2024-01-02")
      val (st, csv, hdr) = httpFull("GET", s"${srv.url}/v2/export/data.csv?limit=100")
      assert(st === 200 && hdr.get("transfer-encoding").exists(_.contains("chunked")), hdr)
      val lines = csv.split("\n")
      assert(lines.head === "series_id,observation_time,value,quality_flag")
      assert(lines.length === 1 + 9 * 2, csv)
    }
  }
}
