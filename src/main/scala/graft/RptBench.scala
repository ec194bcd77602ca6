package graft

/**
 * Differential speedup report for the RPT rule — the analog of the
 * reference's benchmark driver (test_job_queries.sh: per-query baseline vs
 * extension timing, faster/slower/same at a ±5% noise threshold, geometric
 * mean — :266-284, :380-384).
 *
 * Protocol: per query, one untimed warmup, then N interleaved (off, on)
 * pairs — interleaving keeps JIT/page-cache warmup from biasing whichever
 * side runs first — reporting min(off)/min(on).
 *
 * Two regimes per query:
 *  - `broadcast`: stock local settings (small dims broadcast; the regime
 *    of the sf fixtures on one node). skipBroadcastableBuilds skips ops
 *    whose join is expected to broadcast, but deep plans bypass that gate,
 *    and under AQE [[graft.rpt.ResolveBroadcastBuilds]] drops a probe its
 *    own broadcast join enforces or reads its build from a broadcast the
 *    plan already holds. Expect ~1.0x on shallow shapes.
 *  - `shuffle`: autoBroadcastJoinThreshold=-1 forces shuffle joins — the
 *    regime a 100 TB cluster join actually runs in, where semi-join
 *    reduction pays for shuffled bytes it avoids. This is where the rule
 *    must win.
 *
 * Prints one human table per regime plus ONE machine-readable JSON line
 * (prefix RPTBENCH_JSON) with per-query off/on seconds and geomeans.
 */
object RptBench {

  private val queries: Map[String, String] = Map(
    "chain5_selective" ->
      """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM region JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""".stripMargin,
    "star_part_filter" ->
      """SELECT min(l_extendedprice) AS m
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size < 10""".stripMargin,
    "job_min_chain" ->
      """SELECT min(o_totalprice) AS m, min(c_name) AS c
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_7' AND l_quantity > 45""".stripMargin,
    "semi_reduce" ->
      """SELECT count(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderstatus = 'F'""".stripMargin,
    "two_big" ->
      """SELECT count(*) AS n, sum(l_quantity) AS q
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice < 5000""".stripMargin)

  /** The declared workload's multi-join class (the JOB-shape queries of
   *  the oracle suite, reference README.md:81-109) — the rule's payoff
   *  must hold on the real queries, not only the synthetic shapes. */
  private val workloadQueries =
    Seq("q04_chain5_rpt", "q05_star_join", "q06_job_global_min",
      "q27_wide_join", "q35_job_depth", "q36_job_width")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    // optional filters for large-SF probes where the full matrix would run
    // for hours: comma-separated query allowlist + regime allowlist
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val regimes: Set[String] = sys.env.get("SPARK_GRAFT_RPT_REGIMES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val spark = GraftSession.build(appName = "graft-rpt-bench")
    GraftSession.loadTables(spark, sfDir)
    // ad-hoc conf overrides for A/B probes ride GraftSession's
    // SPARK_GRAFT_EXTRA_CONF hook ("k=v;k=v"), applied at session build

    val entries: Seq[(String, () => org.apache.spark.sql.DataFrame)] =
      (queries.toSeq.map { case (n, sql) => n -> (() => spark.sql(sql)) } ++
        workloadQueries.map { n =>
          val d = graft.queries.RelationalQueries.defs.find(_.name == n).get
          n -> (() => d.fn(spark, sfDir))
        }).sortBy(_._1)
        .filter { case (n, _) => only.isEmpty || only(n) }
    // Fail fast on a filter that matches nothing: an empty entry list makes
    // the geomean NaN and an empty regime list leaves a trailing comma in
    // the JSON line — both silently corrupt the RPTBENCH_JSON artifact.
    require(entries.nonEmpty,
      s"SPARK_GRAFT_BENCH_QUERIES matched no query (allowlist: $only)")

    def time(mk: () => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      mk().count()
      (System.nanoTime() - t0) / 1e9
    }

    def cls(speedup: Double): String =
      if (speedup > 1.05) "faster" else if (speedup < 0.95) "slower" else "same"

    val regimePlan = Seq("broadcast" -> "10485760", "shuffle" -> "-1")
      .filter { case (r, _) => regimes.isEmpty || regimes(r) }
    require(regimePlan.nonEmpty,
      s"SPARK_GRAFT_RPT_REGIMES matched no regime (allowlist: $regimes)")
    val regimeJsons = regimePlan
      .map { case (regime, bcThreshold) =>
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcThreshold)
        val rows = entries.map { case (name, mk) =>
          spark.conf.set("spark.graft.rpt.enabled", "false")
          // SPARK_GRAFT_BENCH_WARMUP=0 skips the untimed warmup pass —
          // for decade-scale legs (sf100: ~20 min per execution) the
          // warmup would cost more wall-clock than the measurement; with
          // interleaved (off, on) pairs and min-of-N, N>=2 absorbs the
          // cold-start in the first pair and min discards it
          if (!sys.env.get("SPARK_GRAFT_BENCH_WARMUP").contains("0")) {
            time(mk) // warmup, untimed
          }
          val (offs, ons) = (1 to runs).map { _ =>
            spark.conf.set("spark.graft.rpt.enabled", "false")
            val off = time(mk)
            spark.conf.set("spark.graft.rpt.enabled", "true")
            val on = time(mk)
            (off, on)
          }.unzip
          (name, offs.min, ons.min, offs.min / ons.min)
        }
        val geo = math.exp(rows.map(r => math.log(r._4)).sum / rows.size)
        println(s"== regime: $regime (autoBroadcastJoinThreshold=$bcThreshold)")
        rows.foreach { case (name, off, on, s) =>
          println(f"  $name%-18s off=$off%6.2fs on=$on%6.2fs speedup=$s%5.2fx ${cls(s)}")
        }
        println(f"  geomean speedup: $geo%.3fx " +
          s"(${rows.count(r => cls(r._4) == "faster")} faster / " +
          s"${rows.count(r => cls(r._4) == "slower")} slower / " +
          s"${rows.count(r => cls(r._4) == "same")} same)")
        val qJson = rows.map { case (n, off, on, s) =>
          f""""$n":{"off":$off%.3f,"on":$on%.3f,"speedup":$s%.3f}"""
        }.mkString(",")
        f""""$regime":{"geomean":$geo%.3f,"queries":{$qJson}}"""
    }
    println(s"""RPTBENCH_JSON {"sf":"$sfDir","runs":$runs,${regimeJsons.mkString(",")}}""")
    spark.stop()
  }
}
