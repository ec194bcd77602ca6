package graft.rpt

import graft.SparkTestBase
import org.apache.spark.sql.execution.FilterExec

/**
 * Differential tests mirroring the reference's test protocol: run each
 * multi-join query with the RPT rule ON and OFF on the same session; result
 * sets must be identical (test_job_queries.sh:256 analog), and the ON plan
 * must actually contain injected bloom-filter probes.
 */
class PredicateTransferSuite extends SparkTestBase {

  // JOB-style multi-join workload over the TPC-H-ish fixtures
  val queries: Map[String, String] = Map(
    "chain5" ->
      """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name""".stripMargin,
    "star4_min" ->
      """SELECT min(l_extendedprice) AS min_price, min(p_name) AS min_pname
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_size < 20 AND o_orderstatus = 'F'""".stripMargin,
    "semi" ->
      """SELECT count(*) AS n FROM orders o
        |JOIN customer ON o_custkey = c_custkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l_quantity > 45)
        |""".stripMargin,
    "leftouter" ->
      """SELECT c_mktsegment, count(o_orderkey) AS n_orders
        |FROM customer
        |LEFT JOIN orders ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name LIKE 'NATION_1%'
        |GROUP BY c_mktsegment""".stripMargin,
    "bushy" ->
      """SELECT o_orderpriority, count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE p_brand <> 'Brand#45' AND n_nationkey < 20
        |GROUP BY o_orderpriority""".stripMargin,
    "wide8_selfjoin" ->
      """SELECT count(*) AS n, min(n2.n_name) AS m
        |FROM part
        |JOIN lineitem ON p_partkey = l_partkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE r_name = 'ASIA' AND p_size < 25""".stripMargin
  )

  for ((name, sql) <- queries) {
    test(s"differential: $name matches with rule on vs off") {
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      val on = withConf(RptConf.ENABLED -> "true")(fingerprint(spark.sql(sql)))
      assert(on == off, s"rule changed the result set of $name")
      assert(off.nonEmpty, s"$name returned no rows — weak test")
    }
  }

  test("injected bloom-filter probes appear in the optimized plan") {
    // shuffle regime: with broadcastable builds the rule stands down by
    // design (see "broadcast regime" test below)
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(queries("chain5"))
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain") ||
        optimized.contains("BloomFilterMightContain"),
        s"no bloom filter injected:\n$optimized")
      assert(optimized.contains("graft_rpt_bf"))
    }
  }

  test("rule is disabled cleanly") {
    withConf(RptConf.ENABLED -> "false") {
      val df = spark.sql(queries("chain5"))
      assert(!df.queryExecution.optimizedPlan.toString.contains("graft_rpt_bf"))
    }
  }

  test("forwardOnly pass mode produces fewer filters") {
    def countProbes(): Int = withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = spark.sql(queries("chain5")).queryExecution.optimizedPlan.toString
      "might_contain".r.findAllIn(s).length
    }
    val both = countProbes()
    val fwd = withConf(RptConf.PASS_MODE -> "forwardOnly")(countProbes())
    assert(fwd > 0 && fwd < both, s"expected 0 < fwd($fwd) < both($both)")
  }

  test("minmaxOnly filter type injects range predicates, no bloom filters") {
    withConf(RptConf.ENABLED -> "true", RptConf.FILTER_TYPE -> "minmaxOnly",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = spark.sql(queries("chain5")).queryExecution.optimizedPlan.toString
      assert(!s.contains("might_contain"))
      assert(s.contains("graft_rpt_bf"))
      val res = fingerprint(spark.sql(queries("chain5")))
      val off = withConf(RptConf.ENABLED -> "false")(
        fingerprint(spark.sql(queries("chain5"))))
      assert(res == off)
    }
  }

  for ((name, sql) <- queries) {
    test(s"differential under joinOrder heuristic: $name") {
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      val on = withConf(RptConf.ENABLED -> "true",
        RptConf.HEURISTIC -> "joinOrder")(fingerprint(spark.sql(sql)))
      assert(on == off, s"joinOrder heuristic changed the result set of $name")
    }
  }

  test("joinOrder heuristic injects probes; flipRoots toggles cleanly") {
    def probes(flip: String): Int = withConf(RptConf.ENABLED -> "true",
      RptConf.HEURISTIC -> "join_order", RptConf.FLIP_ROOTS -> flip,
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = spark.sql(queries("chain5")).queryExecution.optimizedPlan.toString
      "might_contain".r.findAllIn(s).length
    }
    assert(probes("true") > 0, "joinOrder+flipRoots injected nothing")
    assert(probes("false") > 0, "joinOrder w/o flipRoots injected nothing")
    // snake_case heuristic value accepted (reference spelling)
    val off = withConf(RptConf.ENABLED -> "false")(
      fingerprint(spark.sql(queries("bushy"))))
    val on = withConf(RptConf.ENABLED -> "true",
      RptConf.HEURISTIC -> "join_order", RptConf.FLIP_ROOTS -> "false")(
      fingerprint(spark.sql(queries("bushy"))))
    assert(on == off)
  }

  test("profiling reports per-probe selectivity after execution") {
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(queries("chain5"))
      df.collect()
      val stats = RptProfiling.probeStats(df.queryExecution)
      assert(stats.nonEmpty, "no probe stats collected")
      assert(stats.forall(s => s.rowsOut <= s.rowsIn || s.rowsIn < 0),
        s"filter emitted more rows than it read: $stats")
      val rep = RptProfiling.report(df)
      assert(rep.contains("geomean"), rep)
      // timing surface (reference rpt_profiling.hpp:16-217): per-build
      // collect time and per-probe stage time must be reported
      val builds = RptProfiling.buildStats(df.queryExecution)
      assert(builds.nonEmpty, "no build stats collected")
      assert(builds.forall(_.collectMs >= 0),
        s"build collect time missing: $builds")
      assert(rep.contains("ms build time"), rep)
      assert(stats.exists(_.stageMs >= 0),
        s"no probe stage timing attributed: $stats")
    }
  }

  test("coexists with Spark's own InjectRuntimeFilter enabled") {
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true") {
      val on = fingerprint(spark.sql(queries("chain5")))
      val off = withConf(RptConf.ENABLED -> "false",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")(
        fingerprint(spark.sql(queries("chain5"))))
      assert(on == off, "both filter rules enabled changed results")
    }
  }

  test("probes survive AQE re-optimization, undoubled, with InjectRuntimeFilter on") {
    // the one rule-ordering surface not covered by the coexistence test:
    // under AQE every stage boundary re-optimizes the remaining LOGICAL
    // plan (AQEOptimizer) and re-plans physical stages. The pin: in the
    // shuffle regime with Spark's own InjectRuntimeFilter active
    // simultaneously, (a) results match rule-off, (b) the rule's planned
    // probes all EXECUTE (AQE neither drops them nor double-applies the
    // rule — the idempotence guard plus AQEOptimizer's restricted rule
    // set), and (c) executed graft probes carry real metrics.
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true") {
      val df = spark.sql(queries("chain5"))
      val onRows = fingerprint(df) // executes under AQE
      // planned graft probes: logical Filters carrying >=1 graft-aliased
      // might_contain (a unit's conds merge into ONE filter)
      val planned = df.queryExecution.optimizedPlan.collect {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.exists {
              case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
                s.plan.toString.contains("graft_rpt_bf")
              case _ => false
            } => f
      }.size
      assert(planned > 0, "expected graft probes in the optimized plan")
      // executed graft probes (post-AQE final plan, via metrics walker)
      val executed = RptProfiling.probeStats(df.queryExecution)
        .filter(s => s.pass == "forward" || s.pass == "backward")
      assert(executed.size == planned,
        s"planned $planned graft probe filters, executed ${executed.size} — " +
          "AQE dropped or double-applied probes")
      assert(executed.forall(_.rowsIn >= 0), s"missing metrics: $executed")
      val off = withConf(RptConf.ENABLED -> "false",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")(
        fingerprint(spark.sql(queries("chain5"))))
      assert(onRows == off)
    }
  }

  test("empty build side: probes reject everything, result stays correct") {
    // reference behavior #7: empty CREATE_BF pushes an always-false filter
    // (physical_create_bf.cpp:289-297); here the empty build yields a BF
    // that rejects all probes, and AQE propagates empty relations
    val sql = queries("chain5").replace("'ASIA'", "'NO_SUCH_REGION'")
    withConf(RptConf.ENABLED -> "true") {
      val on = fingerprint(spark.sql(sql))
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      assert(on == off && on.isEmpty,
        s"empty-build query wrong: on=$on off=$off")
    }
  }

  test("broadcast regime: rule stands down unless the gate is disabled") {
    // with broadcastable build sides a BHJ probes its hash table in the
    // same stage as the scan, so transfer can only lose (measured geomean
    // 0.67x); the rule must inject NOTHING under the default threshold
    withConf(RptConf.ENABLED -> "true") {
      val s = spark.sql(queries("chain5")).queryExecution.optimizedPlan.toString
      assert(!s.contains("might_contain"),
        "rule injected probes for broadcastable builds")
    }
    // reference-faithful override: gate off => probes return
    withConf(RptConf.ENABLED -> "true",
      RptConf.SKIP_BROADCASTABLE_BUILDS -> "false") {
      val s = spark.sql(queries("chain5")).queryExecution.optimizedPlan.toString
      assert(s.contains("might_contain"),
        "gate disabled but still no probes")
    }
  }

  test("filtered-builds-only gate: unfiltered builds transfer nothing") {
    // a query whose dims carry NO selective predicate: every bloom filter
    // would contain every key — the gate must suppress all of them
    val noFilter =
      """SELECT count(*) AS n FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = spark.sql(noFilter).queryExecution.optimizedPlan.toString
      assert(!s.contains("might_contain"),
        "unfiltered builds still transferred")
    }
    // reference-faithful override schedules every edge again
    withConf(RptConf.ENABLED -> "true",
      RptConf.FILTERED_BUILDS_ONLY -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val s = spark.sql(noFilter).queryExecution.optimizedPlan.toString
      assert(s.contains("might_contain"), "override did not restore transfer")
    }
  }

  test("cost gate suppresses probes of tiny units") {
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.MIN_PROBE_ROWS -> "1000000000") {
      val s = spark.sql(queries("chain5")).queryExecution.optimizedPlan.toString
      assert(!s.contains("might_contain"),
        "gate failed to suppress probes on tiny fixture")
      val res = fingerprint(spark.sql(queries("chain5")))
      val off = withConf(RptConf.ENABLED -> "false")(
        fingerprint(spark.sql(queries("chain5"))))
      assert(res == off)
    }
  }

  test("plan quality: static filters reach the scan, small dims broadcast") {
    val df = spark.sql(queries("chain5"))
    df.collect()
    val phys = df.queryExecution.executedPlan.toString
    assert(phys.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"),
      s"region filter not pushed to parquet scan")
    assert(phys.contains("BroadcastHashJoin"), "no broadcast joins in chain5")
    // column pruning: the lineitem scan must not read unused columns
    val lineitemScans = phys.linesIterator
      .filter(l => l.contains("lineitem.parquet") && l.contains("ReadSchema"))
    assert(lineitemScans.forall(!_.contains("l_comment")),
      "lineitem scan reads unused columns")
  }

  test("differential with AQE disabled (non-adaptive execution path)") {
    // subquery sharing/reuse must not depend on AQE's subquery map —
    // the non-adaptive path plans subqueries via PlanSubqueries +
    // ReuseSubquery instead
    val sql = queries("chain5")
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      val on = withConf(RptConf.ENABLED -> "true")(fingerprint(spark.sql(sql)))
      assert(on == off, "rule changed results with AQE off")
      withConf(RptConf.ENABLED -> "true") {
        assert(spark.sql(sql).queryExecution.optimizedPlan.toString
          .contains("might_contain"), "no probes with AQE off")
        spark.sql(sql).collect() // must execute cleanly
      }
    }
  }

  test("cyclic join graph (diamond): both heuristics stay correct") {
    // supplier joins BOTH lineitem and nation -> the join graph has a
    // cycle. largestRoot drops a cycle edge (MST); joinOrder keeps the
    // multi-parent DAG, which exercises the duplicate-embed (diamond)
    // guard in the semijoin build views.
    val sql =
      """SELECT count(*) AS cnt, min(s_name) AS m
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |             AND s_nationkey = n_nationkey
        |WHERE n_name LIKE 'NATION_1%'""".stripMargin
    val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
    for (heuristic <- Seq("largestRoot", "joinOrder")) {
      val on = withConf(RptConf.ENABLED -> "true",
        RptConf.HEURISTIC -> heuristic,
        RptConf.FILTERED_BUILDS_ONLY -> "false",
        RptConf.SKIP_BROADCASTABLE_BUILDS -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")(
        fingerprint(spark.sql(sql)))
      assert(on == off, s"$heuristic changed results on cyclic graph")
    }
    // the rewrite must actually fire on this shape
    withConf(RptConf.ENABLED -> "true",
      RptConf.FILTERED_BUILDS_ONLY -> "false",
      RptConf.SKIP_BROADCASTABLE_BUILDS -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(spark.sql(sql).queryExecution.optimizedPlan.toString
        .contains("might_contain"), "no probes on cyclic graph")
    }
  }

  test("RptExplain renders CREATE_BF/USE_BF operator identities") {
    // the reference's verify-via-EXPLAIN workflow (README.md:77-78):
    // operators must be identifiable by name with build/probe linkage
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val rep = RptExplain.explain(spark.sql(queries("chain5")))
      assert(rep.contains("USE_BF["), rep)
      assert(rep.contains("CREATE_BF#0"), rep)
      assert(rep.contains("items="), rep)
      assert(rep.contains("<- CREATE_BF#"), rep)
    }
    withConf(RptConf.ENABLED -> "false") {
      val rep = RptExplain.explain(spark.sql(queries("chain5")))
      assert(rep.contains("no transfer operators"), rep)
    }
  }

  test("rule is idempotent: a second application leaves the plan unchanged") {
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val once = spark.sql(queries("chain5")).queryExecution.optimizedPlan
      assert(once.toString.contains("might_contain"))
      val twice = PredicateTransferRule()(once)
      assert(twice eq once,
        "second application rewrote an already-transferred plan")
    }
  }

  test("broadcastConversionMargin widens the skip to joins AQE will convert") {
    // threshold at half the orders unit's static size: orders exceeds the
    // bare threshold, but with the conversion margin (4x) the gate
    // recognizes the join's smaller input sits within AQE's runtime
    // broadcast-conversion range and stands the whole schedule down. At
    // an eighth, orders lies outside 4x the threshold and must transfer
    // toward lineitem.
    val so = spark.table("orders").queryExecution.optimizedPlan.stats.sizeInBytes
    def probes(thresh: BigInt): Int =
      withConf(RptConf.ENABLED -> "true",
          "spark.sql.autoBroadcastJoinThreshold" -> thresh.max(1).toString) {
        "might_contain".r.findAllIn(spark.sql(queries("chain5"))
          .queryExecution.optimizedPlan.toString).length
      }
    assert(probes(so / 2) == 0,
      "joins within the conversion range must not transfer")
    assert(probes(so / 8) > 0,
      "orders outside the conversion range must transfer")
  }

  test("deep plans keep transferring where the conversion margin stands shallow ones down") {
    // identical threshold (half the orders unit): the 4-edge chain is
    // fully inside the conversion margin and must not transfer, while the
    // 13-edge q35 graph falls back to the bare compare (reductions
    // compound with depth) and must keep its probes
    val so = spark.table("orders").queryExecution.optimizedPlan.stats.sizeInBytes
    val thresh = (so / 2).max(1).toString
    withConf(RptConf.ENABLED -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> thresh) {
      val shallow = "might_contain".r.findAllIn(
        spark.sql(queries("chain5")).queryExecution.optimizedPlan.toString).length
      val deep = "might_contain".r.findAllIn(
        graft.SparkEntry.queries("q35_job_depth")(spark, sfDir)
          .queryExecution.optimizedPlan.toString).length
      assert(shallow == 0, s"shallow plan transferred ($shallow probes)")
      assert(deep > 0, "deep plan lost its transfers to the margin")
    }
    // round 11: deep plans bypass the skip entirely — even a threshold
    // bigger than every unit (every join individually broadcastable, so
    // the pre-r11 bare-threshold fallback stood everything down) must
    // keep the deep plan's transfers (measured 1.5–2× at sf1, 3–10× at
    // sf10: a BHJ still probes every fact row, so reductions pay without
    // saving a shuffle)
    withConf(RptConf.ENABLED -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> (1L << 40).toString) {
      val deep = "might_contain".r.findAllIn(
        graft.SparkEntry.queries("q35_job_depth")(spark, sfDir)
          .queryExecution.optimizedPlan.toString).length
      assert(deep > 0,
        "deep plan lost its transfers to the all-broadcastable skip")
    }
  }

  test("executes with whole-stage codegen filters (physical sanity)") {
    withConf(RptConf.ENABLED -> "true") {
      val df = spark.sql(queries("star4_min"))
      df.collect() // must actually run
      val phys = df.queryExecution.executedPlan
      assert(phys.exists {
        case _: FilterExec => true
        case _ => false
      } || phys.toString.contains("Filter"))
    }
  }
}
