package graft.rpt

import graft.SparkTestBase

/** Settings surface: reference snake_case spellings accepted, unknown
  * values raise instead of silently selecting another mode
  * (reference settings registry: rpt_extension.cpp:56-69). */
class RptConfSuite extends SparkTestBase {

  private def sqlConf = spark.sessionState.conf

  test("snake_case reference spellings map to every enum value") {
    withConf(
      RptConf.HEURISTIC -> "largest_root",
      RptConf.PASS_MODE -> "forward_only",
      RptConf.FILTER_TYPE -> "bf_only") {
      assert(RptConf.heuristic(sqlConf) == "largestRoot")
      assert(RptConf.passMode(sqlConf) == "forwardOnly")
      assert(RptConf.filterType(sqlConf) == "bfOnly")
    }
    withConf(RptConf.FILTER_TYPE -> "minmax_only",
      RptConf.HEURISTIC -> "JOIN_ORDER",
      RptConf.PASS_MODE -> "BOTH") {
      assert(RptConf.filterType(sqlConf) == "minmaxOnly")
      assert(RptConf.heuristic(sqlConf) == "joinOrder")
      assert(RptConf.passMode(sqlConf) == "both")
    }
    withConf(RptConf.FILTER_TYPE -> "ALL") {
      assert(RptConf.filterType(sqlConf) == "all")
    }
  }

  test("unknown enum values raise rather than fall through") {
    for ((key, bad) <- Seq(
        RptConf.HEURISTIC -> "mst",
        RptConf.PASS_MODE -> "backwardOnly",
        RptConf.PASS_MODE -> "forward",
        RptConf.FILTER_TYPE -> "none")) {
      withConf(key -> bad) {
        val e = intercept[IllegalArgumentException] {
          RptConf.heuristic(sqlConf)
          RptConf.passMode(sqlConf)
          RptConf.filterType(sqlConf)
        }
        assert(e.getMessage.contains(key), e.getMessage)
      }
    }
  }

  test("payoff gates have reference-faithful off switches") {
    withConf(
      RptConf.MIN_PROBE_ROWS -> "0",
      RptConf.MIN_BUILD_PROBE_RATIO -> "0",
      RptConf.FILTERED_BUILDS_ONLY -> "false",
      RptConf.SKIP_BROADCASTABLE_BUILDS -> "false") {
      assert(RptConf.minProbeRows(sqlConf) == 0L)
      assert(RptConf.minBuildProbeRatio(sqlConf) == 0.0)
      assert(!RptConf.filteredBuildsOnly(sqlConf))
      assert(!RptConf.skipBroadcastableBuilds(sqlConf))
    }
    // the broadcast skip's deep-plan fallback at 6 edges
    assert(RptConf.deepPlanEdges(sqlConf) == 6)
    withConf(RptConf.DEEP_PLAN_EDGES -> "99") {
      assert(RptConf.deepPlanEdges(sqlConf) == 99)
    }
    // total-work floor: waveCostBytes=0 is the reference-faithful master
    // off switch (the reference pays ~zero per-wave fixed cost, so it
    // never needed this gate); the session base holds it open for tests
    withConf(RptConf.WAVE_COST_BYTES -> "8388608") {
      assert(RptConf.waveCostBytes(sqlConf) == 8388608L)
      assert(RptConf.minPlanWorkBytes(sqlConf) == 32L * 1024 * 1024)
      assert(RptConf.waveWorkFraction(sqlConf) == 0.15)
      assert(RptConf.waveBuildFraction(sqlConf) == 0.5)
    }
    assert(RptConf.waveCostBytes(sqlConf) == 0L) // test-session override
  }

  test("undeclared spark.graft.rpt keys raise; every declared key is accepted") {
    // settings that are now fixed cost-model terms in RptConf or always
    // on (footerKeepGate): a script still setting one would otherwise
    // change nothing, silently
    val removed = Seq("broadcastConversionMargin", "deepPlanProbeRows",
      "deepPlanBypassKeepFraction", "maxBuildKeepFraction",
      "filteredProbeMaxKeep", "filteredProbeExtendFactor",
      "bigBuildEffectiveCard", "bigBuildMaxBfItems",
      "adaptiveProbeKeepThreshold", "footerKeepGate")
      .map("spark.graft.rpt." + _)
    for (key <- removed) {
      assert(!RptConf.Keys(key))
      withConf(RptConf.ENABLED -> "true", key -> "1") {
        val e = intercept[IllegalArgumentException] {
          spark.sql("SELECT count(*) FROM orders JOIN lineitem " +
            "ON o_orderkey = l_orderkey").queryExecution.optimizedPlan
        }
        assert(e.getMessage.contains(key), e.getMessage)
      }
    }
    // the check runs only while the rule is on
    withConf(RptConf.ENABLED -> "false", removed.head -> "1") {
      spark.sql("SELECT 1").queryExecution.optimizedPlan
    }
    val all = new org.apache.spark.sql.internal.SQLConf
    RptConf.Keys.foreach(all.setConfString(_, "x"))
    RptConf.requireDeclared(all)
  }

  test("the README settings table lists exactly the declared keys") {
    val readme = java.nio.file.Files.readString(
      java.nio.file.Paths.get(sys.props.getOrElse("user.dir", "."), "README.md"))
    val table = readme.linesIterator
      .dropWhile(!_.startsWith("## Settings"))
      .drop(1).takeWhile(!_.startsWith("## "))
      .filter(l => l.startsWith("| `"))
      .toSeq
    val documented = table.flatMap { row =>
      "`([A-Za-z0-9]+)`".r.findAllMatchIn(row.split('|')(1))
        .map("spark.graft.rpt." + _.group(1))
    }
    assert(documented.size == documented.distinct.size,
      s"README lists a key twice: ${documented.diff(documented.distinct)}")
    assert(documented.toSet == RptConf.Keys,
      s"README only: ${documented.toSet -- RptConf.Keys}; " +
        s"RptConf only: ${RptConf.Keys -- documented.toSet}")
  }
}
