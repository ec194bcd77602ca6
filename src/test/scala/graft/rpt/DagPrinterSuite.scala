package graft.rpt

import graft.SparkTestBase

/** Format pin for the physical-DAG renderer — the reference's
  * `rpt_display_physical_dag` analog (dag_printer.cpp boxed subtrees +
  * rpt_profiling.hpp measured selectivities). */
class DagPrinterSuite extends SparkTestBase {

  test("renderPhysical: boxed tree with measured probe selectivities") {
    val df = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val d = spark.sql(
        """SELECT count(*) AS n
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_acctbal < 500""".stripMargin)
      d.collect()
      d
    }
    val out = RptExplain.displayPhysicalDag(df)
    // boxed tree: borders, unit boxes with names + cardinalities
    assert(out.contains("rpt physical DAG"), out)
    assert(out.contains("+--"), s"missing box borders:\n$out")
    assert(out.contains("(unit "), s"missing unit ids:\n$out")
    assert(out.contains(" rows"), s"missing cardinalities:\n$out")
    // at least one measured probe joined onto a box, with selectivity
    assert(out.contains("probe:") && out.contains("%"),
      s"missing measured probe selectivity:\n$out")
    assert(out.contains(" -> "), s"missing rows in->out arrow:\n$out")
    // build rollup section
    assert(out.contains("builds:"), s"missing builds section:\n$out")
    // tree connectors between parent and children boxes
    assert(out.contains("|"), s"missing connectors:\n$out")
  }

  test("renderPhysical: unexecuted plan still renders the schedule tree") {
    val df = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val d = spark.sql(
        """SELECT count(*) FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey""".stripMargin)
      // force planning, no action: under this threshold, not the default
      d.queryExecution.optimizedPlan
      d
    }
    val out = RptExplain.displayPhysicalDag(df)
    assert(out.contains("+--") && out.contains("(unit "), out)
  }

  test("each query renders its own schedule, not the last one planned") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def planned(sql: String) = {
        val df = spark.sql(sql)
        df.queryExecution.optimizedPlan
        df
      }
      val a = planned(
        """SELECT count(*) FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey""".stripMargin)
      val aAlone = RptExplain.displayPhysicalDag(a)
      val b = planned(
        """SELECT count(*) FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN supplier ON l_suppkey = s_suppkey""".stripMargin)
      val bOut = RptExplain.displayPhysicalDag(b)
      assert(aAlone.contains("(unit ") && bOut.contains("(unit "),
        s"both queries must plan transfers:\n$aAlone\n$bOut")
      assert(aAlone !== bOut)
      assert(RptExplain.displayPhysicalDag(a) === aAlone,
        "query A rendered B's schedule")
      val none = planned("SELECT count(*) FROM nation")
      assert(RptExplain.displayPhysicalDag(none) ===
        "rpt: no transfer schedule planned for this query")
    }
  }
}
