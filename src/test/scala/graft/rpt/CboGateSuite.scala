package graft.rpt

import graft.SparkTestBase

/**
 * CBO-stats path of the keep-fraction build gate: with
 * `spark.sql.cbo.enabled` and ANALYZE'd column statistics, a weakly-
 * selective build stands down from the filter ESTIMATE alone — no
 * planning-time count jobs needed.
 * Also pins the trust guard: CBO without column stats must change
 * nothing, because FilterEstimation assumes unestimatable predicates
 * keep 100% of rows.
 */
class CboGateSuite extends SparkTestBase {

  private def buildTables(sql: String): Set[String] =
    RptTestHelpers.buildTables(spark, sql)

  // weak supplier filter (keeps every row), selective orders filter. The
  // supplier filter is an OR of ranges: CBO estimates it, the footer
  // estimate cannot, so this suite sees the CBO estimate path alone
  private val weak =
    """SELECT count(*) AS n FROM lineitem
      |JOIN graft_cbo_supplier s ON l_suppkey = s.s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE (s.s_acctbal > -999999 OR s.s_acctbal < -1999999)
      |  AND o_totalprice < 20000""".stripMargin

  test("ANALYZE'd stats stand a weak build down; no-stats CBO is inert") {
    spark.sql("DROP TABLE IF EXISTS graft_cbo_supplier")
    spark.sql(
      s"""CREATE TABLE graft_cbo_supplier
         |USING parquet LOCATION '$sfDir/supplier.parquet'""".stripMargin)
    try {
      withConf(RptConf.ENABLED -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.cbo.enabled" -> "true") {
        // no column stats yet: the estimate is untrustworthy (selectivity
        // defaults to 1.0) and must NOT gate — supplier still builds
        // (lineitem backward builds also appear: tests run minProbeRows=0)
        val ungated = buildTables(weak)
        assert(ungated.contains("supplier") && ungated.contains("orders"),
          s"CBO without column stats must not gate any build ($ungated)")

        spark.sql("ANALYZE TABLE graft_cbo_supplier COMPUTE STATISTICS " +
          "FOR ALL COLUMNS")
        spark.catalog.refreshTable("graft_cbo_supplier")
        // with stats, FilterEstimation sees the OR keeps ~100% of rows →
        // the supplier build stands down; orders' selective filter keeps
        // transferring
        val gated = buildTables(weak)
        assert(!gated.contains("supplier"),
          s"stats-estimated weak build not gated (builds: $gated)")
        assert(gated.contains("orders"),
          s"selective build lost (builds: $gated)")
        // and correctness is unaffected
        val on = fingerprint(spark.sql(weak))
        val off = withConf(RptConf.ENABLED -> "false")(
          fingerprint(spark.sql(weak)))
        assert(on === off)
      }
    } finally spark.sql("DROP TABLE IF EXISTS graft_cbo_supplier")
  }

  test("measured-weak own filter does not block the semi ride-through embed") {
    // nation (selective) reduces supplier (measured-weak own filter: the
    // all-range s_acctbal > -999999 keeps every supplier by the default
    // footer estimate) reduces lineitem: the keep-fraction gate stands
    // supplier's own BF BUILD down, but supplier's reduced view —
    // carrying the selective nation semi — must still embed into
    // lineitem's view, so lineitem's downstream build over orders keeps
    // nation's reduction (subquery leaves include nation). Gating the
    // embed on the own-filter measurement alone loses transitive
    // selectivity.
    val chain =
      """SELECT count(*) AS n FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_3' AND s_acctbal > -999999""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.MIN_PROBE_ROWS -> "0") {
      assert(!buildTables(chain).contains("supplier"),
        "weak supplier build must stand down under the keep-fraction gate")
      // find the lineitem-build subquery and check nation rides inside it
      import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
      val lineitemBuildLeaves = collection.mutable.Set[String]()
      spark.sql(chain).queryExecution.optimizedPlan.foreach(
        _.expressions.foreach(_.foreach {
          case ss: ScalarSubquery
              if ss.plan.toString.contains("graft_rpt_bf") =>
            val leaves = ss.plan.collectLeaves()
              .flatMap(_.output.headOption.map(_.name.take(2)))
            if (leaves.headOption.contains("l_"))
              lineitemBuildLeaves ++= leaves
          case _ => ()
        }))
      assert(lineitemBuildLeaves.contains("n_"),
        s"nation's reduction must ride through the gated supplier unit " +
          s"into the lineitem build (leaves: $lineitemBuildLeaves)")
      val on = fingerprint(spark.sql(chain))
      val off = withConf(RptConf.ENABLED -> "false")(
        fingerprint(spark.sql(chain)))
      assert(on === off)
    }
  }
}
