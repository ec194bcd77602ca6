package graft.rpt

import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan

import graft.SparkTestBase

/**
 * Executable record of the one reference behavior that CANNOT be ported
 * onto stock Spark file sources: pushing the bloom filter into the scan
 * itself (the reference's dynamic filter pushdown into LOGICAL_GET,
 * rpt_optimizer.cpp:1401-1501 + physical_create_bf.cpp:282-350).
 *
 * Spark's API for exactly that is `SupportsRuntimeV2Filtering` (a scan
 * declares filterable attributes; the engine calls `filter(predicates)`
 * with runtime values before planning input partitions). The built-in
 * parquet source — BOTH the v1 `FileSourceScanExec` path and the v2
 * `ParquetScan` — does not implement it in Spark 4.1.2: runtime pruning
 * for file sources exists only as dynamic PARTITION pruning. External
 * DSv2 sources (Iceberg-class) do implement it, and against such a
 * source the rule's probe subquery values could reach the scan.
 *
 * Ceiling on stock file sources: the BF probe stays a post-scan
 * `FilterExec` FUSED into the scan's whole-stage-codegen pipeline
 * (pinned below) — rows die in the same generated loop that
 * materializes them, which is the closest Spark gets to the reference's
 * in-scan probe without forking the file source.
 *
 * If a Spark upgrade makes this suite fail, the gap can be closed for
 * real: wire the probe as a DynamicPruning predicate on the scan's
 * declared filter attributes.
 *
 * For tables READ THROUGH the repo's own `graft-parquet` source
 * (org.apache.spark.sql.graft.sources.GraftParquetScan), the gap IS
 * closed: that scan implements SupportsRuntimeV2Filtering, and the rule
 * splices the in-scan transfer alongside the BF probe
 * (`spark.graft.rpt.v2ScanFilter`, GraftParquetSourceSuite). This suite
 * remains the record for the STOCK file-source path.
 */
class RuntimeV2FilteringSuite extends SparkTestBase {

  test("stock ParquetScan offers no runtime-filtering hook (API probe)") {
    assert(!classOf[SupportsRuntimeV2Filtering]
        .isAssignableFrom(classOf[ParquetScan]),
      "ParquetScan now implements SupportsRuntimeV2Filtering — wire the " +
        "BF probe into the scan via DynamicPruning and retire this pin")
  }

  test("v2 parquet path: BF probe lands fused directly above the scan") {
    withConf(
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // v2 relations resolve at read time, not from the (v1) temp views
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val customer = spark.read.parquet(s"$sfDir/customer.parquet")
        .where("c_acctbal < 500")
      // 2 edges (the 1-edge graph stands down by design, MIN_EDGES)
      val df = lineitem.join(orders,
        lineitem("l_orderkey") === orders("o_orderkey"))
        .join(customer, orders("o_custkey") === customer("c_custkey"))
        .groupBy().count()
      df.collect()

      // walk through AQE + query-stage wrappers (stages are leaves whose
      // real plan hangs off .plan, which collect() does not traverse)
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[BatchScanExec] = p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scans(s.plan)
        case b: BatchScanExec => Seq(b)
        case other =>
          other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
      }
      val plan = df.queryExecution.executedPlan
      val found = scans(plan)
      assert(found.nonEmpty, "expected the v2 BatchScanExec path")
      assert(found.forall(_.scan.isInstanceOf[ParquetScan]))
      // the probe exists and is a FilterExec with might_contain — the
      // fused post-scan position (the scan itself cannot accept it)
      assert(plan.toString().contains("might_contain"),
        "rule should probe the v2 scan's output")
    }
  }

  test("rule-on results match rule-off on the v2 parquet path") {
    withConf(
      "spark.sql.sources.useV1SourceList" -> "",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def run(): Seq[String] = {
        val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        val customer = spark.read.parquet(s"$sfDir/customer.parquet")
          .where("c_acctbal < 500")
        fingerprint(lineitem.join(orders,
          lineitem("l_orderkey") === orders("o_orderkey"))
          .join(customer, orders("o_custkey") === customer("c_custkey"))
          .groupBy("o_orderstatus").count())
      }
      val on = run()
      val off = withConf(RptConf.ENABLED -> "false")(run())
      assert(on === off)
    }
  }
}
