package perfbench

import java.time.Instant

/** Checks of the benchmark's own JVM side that need no Spark session:
  * the closed-form model and the response checkers, which must accept a
  * correct body and reject a wrong one. Run by `perfbench/test_bench.py`
  * through `perfbench.Main --selftest`; prints `selftest ok` or throws. */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(s"selftest: $what")

  def run(): Unit = {
    val model = GasModel(seed = 7, sites = 3, perDay = 24, revShare = 0.5)
    val day = java.time.LocalDate.parse("2024-01-01").toEpochDay
    val t = day * 86400L + 3600L
    // closed form: deterministic, revisions only accrue, text round-trips
    expect(model.valueAsOf(1, 2, t, day + 5) == model.valueAsOf(1, 2, t, day + 5), "determinism")
    expect((day to day + 9).map(d => model.revision(1, 2, t, d)).sliding(2).forall(p => p(0) <= p(1)),
      "revisions never decrease")
    expect(model.revision(1, 2, t, day) == 0, "a point is unrevised on its own day")
    expect((1 to 3).forall(m => model.value(2, m, t, 0).toString.toDouble == model.value(2, m, t, 0)),
      "value text round-trips")
    expect(model.copy(seed = 8).value(1, 1, t, 0) != model.value(1, 1, t, 0),
      "the seed changes the values")

    val c = new ServeRead.Content(model, day, day + 1)
    val sid = c.series.head
    val want = (0 until 3).map(k => (sid, c.time(k)))
    def point(k: Int, v: Double) =
      s"""{"timestamp":"${Instant.ofEpochSecond(c.time(k))}","value":$v,"quality_flag":null,"raw_payload":null}"""
    def body(vs: Seq[Double]) =
      s"""[{"series_id":"$sid","dataset_id":"GAS_QUALITY","description":"CV","unit":"UNKNOWN",""" +
        s""""frequency":"intraday","points":[${vs.zipWithIndex.map { case (v, k) => point(k, v) }.mkString(",")}]}]"""
    val good = (0 until 3).map(k => c.value(sid, c.time(k)))
    val check = ServeRead.dataCheck(c, deep = true, want) _
    expect(check(200, body(good)).isEmpty, "a correct /v2/data body passes")
    expect(check(200, body(good.updated(1, good(1) + 0.0001))).nonEmpty, "a wrong value fails")
    expect(check(200, body(good.take(2))).nonEmpty, "a missing point fails")
    expect(check(500, body(good)).nonEmpty, "a 500 fails")
    expect(check(200, "not json").nonEmpty, "an unparseable body fails")

    val csv = "series_id,observation_time,value,quality_flag" + (0 until c.perSeries).map { k =>
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
        .withZone(java.time.ZoneOffset.UTC).format(Instant.ofEpochSecond(c.time(k)))
      s"\n$sid,$ts,${c.value(sid, c.time(k))},"
    }.mkString
    expect(ServeRead.csvCheck(c, deep = true, sid)(200, csv).isEmpty, "a correct csv passes")
    val lines = csv.split("\n")
    val f = lines(1).split(",", -1)
    val tampered = lines.updated(1, f.updated(2, (f(2).toDouble + 0.0001).toString).mkString(","))
    expect(ServeRead.csvCheck(c, deep = true, sid)(200, tampered.mkString("\n")).nonEmpty,
      "a csv with a wrong value fails")

    val raw = """[{"ts":"2024-01-01 00:00:00","site":"SITE02","siteId":"02"}]"""
    expect(ServeRead.rawCheck(model, 2, 1)(200, raw).isEmpty, "a payload of the asked site passes")
    expect(ServeRead.rawCheck(model, 3, 1)(200, raw).nonEmpty, "a payload of another site fails")

    println("selftest ok")
  }
}
