package graft

/** The `graft.Bench` runner's contract: min-of-N times per query, a query
  * that throws reads -1 and is listed in `errors`, and the total skips it. */
class BenchSuite extends SparkTestBase {

  test("two registry queries time, a throwing one reads -1 and is listed") {
    val named: Seq[(String, Bench.Query)] =
      Seq("q01_pricing_summary", "q04_chain5_rpt")
        .map(n => n -> SparkEntry.queries(n)) :+
        ("x01_throws" -> ((_, _) => throw new IllegalStateException("boom")))
    val r = Bench.run(spark, sfDir, runs = 2, named)
    val times = r.times.toMap
    assert(r.times.map(_._1) === named.map(_._1))
    assert(times("q01_pricing_summary") >= 0)
    assert(times("q04_chain5_rpt") >= 0)
    assert(times("x01_throws") === -1.0)
    assert(r.errors === Seq("x01_throws: IllegalStateException"))
    assert(r.total === times("q01_pricing_summary") + times("q04_chain5_rpt"))

    val line = Bench.json(r, sfDir)
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains(""""queries":{"q01":""") &&
      line.contains(""""x01":-1.000}"""))
    assert(line.endsWith(
      """"errors":["x01_throws: IllegalStateException"]}"""))
  }
}
