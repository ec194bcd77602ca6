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
    // broadcast-conversion margin: default 4x with the deep-plan fallback
    // at 6 edges; margin 1.0 restores the bare threshold compare
    assert(RptConf.broadcastConversionMargin(sqlConf) == 4.0)
    assert(RptConf.deepPlanEdges(sqlConf) == 6)
    withConf(
      RptConf.BROADCAST_CONVERSION_MARGIN -> "1.0",
      RptConf.DEEP_PLAN_EDGES -> "99") {
      assert(RptConf.broadcastConversionMargin(sqlConf) == 1.0)
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
}
