package graft.rpt

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/**
 * Pins the banked-filter stand-down
 * ([[RptConf.FILTERED_PROBE_WAVE_MULTIPLE]]): a probe site whose scan
 * already carries its own selective static predicate accepts no BF/min-max
 * probe while its scan volume is under the configured number of waves'
 * worth of bytes — the r16 fix for the measured JOB interactive-scale
 * loser class (queries probing only filtered scans geomean 0.70-0.73×;
 * queries probing only unfiltered scans 2.0-3.5× with zero losers).
 * An unfiltered probe site is never banked; disabling the gate (or the
 * floor master switch) restores every transfer; the gate is perf-only.
 */
class FilteredProbeSuite extends SparkTestBase {

  // EVERY probe site carries a STRONG own filter (footer-priceable
  // ranges keeping <35%: l_quantity < 3 ~4%, o_orderdate < 1992-06 ~7%,
  // p_size < 10 ~18%) -> all sites banked
  private val filteredProbeSql =
    """SELECT count(*) AS n
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_size < 10 AND o_orderdate < DATE'1992-06-01'
      |  AND l_quantity < 3""".stripMargin

  // WEAK own filter (keeps over half the fact): banks almost nothing,
  // so the site must keep its probes (the JOBTOPO q18 regression class)
  private val weakFilterSql =
    """SELECT count(*) AS n
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_size < 10 AND o_totalprice > 1000.0
      |  AND l_quantity < 30""".stripMargin

  // same shape, probe side unfiltered -> never banked
  private val openProbeSql =
    """SELECT count(*) AS n
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN part ON l_partkey = p_partkey
      |WHERE p_size < 10 AND o_totalprice > 1000.0""".stripMargin

  private def plannedBuilds(sql: String): Int = {
    val plan = spark.sql(sql).queryExecution.optimizedPlan
    val out = collection.mutable.ArrayBuffer[ScalarSubquery]()
    plan.foreach(_.expressions.foreach(_.foreach {
      case ss: ScalarSubquery if ss.plan.toString.contains("graft_rpt_bf") =>
        out += ss
      case _ => ()
    }))
    out.map(_.exprId).distinct.size
  }

  // floor active (waveCost=1 byte keeps the budget itself non-binding on
  // the tiny fixture) with a threshold far above any test table
  private val gateOn = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    RptConf.MIN_PLAN_WORK_BYTES -> "0",
    RptConf.WAVE_COST_BYTES -> "1",
    RptConf.WAVE_BUILD_FRACTION -> "0.0",
    RptConf.FILTERED_PROBE_WAVE_MULTIPLE -> (1L << 40).toString)

  test("banked probe site: filtered probe scan plans no transfer") {
    val without = withConf(gateOn: _*) { plannedBuilds(filteredProbeSql) }
    val restored = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.MIN_PLAN_WORK_BYTES -> "0",
      RptConf.WAVE_COST_BYTES -> "1",
      RptConf.WAVE_BUILD_FRACTION -> "0.0",
      RptConf.FILTERED_PROBE_WAVE_MULTIPLE -> "0") {
      plannedBuilds(filteredProbeSql)
    }
    assert(restored > 0, "gate off must restore transfers onto the " +
      "filtered probe (fixture must plan some)")
    assert(without == 0,
      s"filtered probe site must be banked under the gate, got $without")
  }

  test("unfiltered probe site is never banked") {
    val open = withConf(gateOn: _*) { plannedBuilds(openProbeSql) }
    assert(open > 0,
      "an unfiltered probe scan must keep its transfers under the gate")
  }

  test("weak own filter is not banked: the site keeps its probes") {
    val weak = withConf(gateOn: _*) { plannedBuilds(weakFilterSql) }
    assert(weak > 0, "a weak probe filter (keeps over maxKeep) banks " +
      "nothing and must keep its transfers")
  }

  test("scale escape: a probed unit past the byte threshold keeps probes") {
    // threshold of 1 wave x 1 byte sits below every table -> nothing is
    // banked even though the probe is filtered
    val kept = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.MIN_PLAN_WORK_BYTES -> "0",
      RptConf.WAVE_COST_BYTES -> "1",
      RptConf.WAVE_BUILD_FRACTION -> "0.0",
      RptConf.FILTERED_PROBE_WAVE_MULTIPLE -> "1") {
      plannedBuilds(filteredProbeSql)
    }
    assert(kept > 0, "a big-enough filtered probe must keep its transfers " +
      "(the sf100 TPC-H date-filtered lineitem case)")
  }

  // --- r17 mid-scale extension (FILTERED_PROBE_KEPT_WAVE_MULTIPLE): a
  // site past the base ceiling still banks when its MEASURED post-filter
  // volume is under the kept-waves ceiling — the factor-2 loser fix
  // (JOBREAL_F2_r17). Confs are sized from the fixture's actual stats so
  // the lineitem scan lands in the extended band (base < bytes < 4x base).
  private def lineitemBytes: Long =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .queryExecution.optimizedPlan.stats.sizeInBytes.toLong

  private def extBandConf(keptMult: Long) = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    RptConf.MIN_PLAN_WORK_BYTES -> "0",
    RptConf.WAVE_COST_BYTES -> "1",
    RptConf.WAVE_BUILD_FRACTION -> "0.0",
    // base = bytes/2 < bytes < 2x bytes = band top
    // (RptConf.FilteredProbeExtendFactor 4)
    RptConf.FILTERED_PROBE_WAVE_MULTIPLE -> (lineitemBytes / 2).toString,
    RptConf.FILTERED_PROBE_KEPT_WAVE_MULTIPLE -> keptMult.toString)

  test("extended band: strong measured keep with tiny kept volume banks") {
    // l_quantity < 3 keeps ~4% -> kept bytes ~0.04 x scan, far under a
    // kept-ceiling of the full scan size -> banked
    val banked = withConf(extBandConf(keptMult = lineitemBytes): _*) {
      plannedBuilds(filteredProbeSql)
    }
    assert(banked == 0, "extended band with tiny measured kept volume " +
      s"must bank the probe site, planned $banked builds")
  }

  test("extended band: kept volume past the kept-waves ceiling escapes") {
    // kept ceiling of 1 byte: even a 4% keep of the scan exceeds it ->
    // the probe site keeps its transfers (the sf10 date-filter class,
    // ~14% keep x 1.2 GB = 170 MB of survivors feeding deep shuffles)
    val kept = withConf(extBandConf(keptMult = 1): _*) {
      plannedBuilds(filteredProbeSql)
    }
    assert(kept > 0, "a mid-band site whose post-filter volume exceeds " +
      "the kept ceiling must keep its transfers")
  }

  test("extended band: keptMult=0 is a full off-switch (banks nothing)") {
    // FILTERED_PROBE_KEPT_WAVE_MULTIPLE=0 must plan exactly like a probe
    // past the band top, where no extended-band rule reaches — before
    // r18, keptMult=0 stopped banking but the effective-bytes budget
    // discount (and now the effective-card admission) still keyed off
    // the band
    val kept = withConf(extBandConf(keptMult = 0): _*) {
      plannedBuilds(filteredProbeSql)
    }
    assert(kept > 0,
      "keptMult=0 must restore base-band-only behavior")
    // base = bytes/8 -> band top = 4 x base = bytes/2 < bytes
    val pastTop = withConf(extBandConf(keptMult = lineitemBytes) :+
        (RptConf.FILTERED_PROBE_WAVE_MULTIPLE -> (lineitemBytes / 8).toString): _*) {
      plannedBuilds(filteredProbeSql)
    }
    assert(kept == pastTop,
      s"keptMult=0 ($kept builds) must match a probe past the band top ($pastTop)")
  }

  test("extended band: unknown keep does NOT bank (base-band prior only)") {
    // a scalar-subquery filter is unpriceable (footers/CBO can't, and
    // countSafe refuses to execute it) -> keep unknown -> the extended
    // band must keep the probes, unlike the base band's bank-on-prior
    val subquerySql =
      """SELECT count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 10 AND o_orderdate < DATE'1992-06-01'
        |  AND l_quantity < (SELECT min(l_quantity) + 2 FROM lineitem)""".stripMargin
    val kept = withConf(extBandConf(keptMult = lineitemBytes): _*) {
      plannedBuilds(subquerySql)
    }
    assert(kept > 0,
      "unknown keep in the extended band must not bank")
    // same query in the BASE band (huge base ceiling) banks on the prior
    val banked = withConf(gateOn: _*) { plannedBuilds(subquerySql) }
    assert(banked == 0,
      "unknown keep in the base band must bank on the measured prior")
  }

  test("extended band is perf-only: results identical banked vs off") {
    def run(conf: Seq[(String, String)]): Seq[String] =
      withConf(conf: _*) { fingerprint(spark.sql(filteredProbeSql)) }
    val banked = run(extBandConf(keptMult = lineitemBytes))
    val off = run(Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.WAVE_COST_BYTES -> "0"))
    assert(banked == off, "extended-band stand-down must be perf-only")
  }

  test("gate is perf-only: results identical banked vs off") {
    def run(conf: Seq[(String, String)]): Seq[String] =
      withConf(conf: _*) { fingerprint(spark.sql(filteredProbeSql)) }
    val banked = run(gateOn)
    val off = run(Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.WAVE_COST_BYTES -> "0"))
    assert(banked == off, "banked-filter stand-down must be perf-only")
  }
}
