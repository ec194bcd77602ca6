package graft.rpt

import java.nio.file.Files

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
import org.apache.spark.sql.graft.sources.GraftParquetScan
import org.apache.spark.sql.types._

import graft.SparkTestBase

/**
 * The over-cap QUANTIZED in-scan transfer
 * ([[RptConf.V2_QUANTIZED_OVER_CAP]]): when a build side exceeds the
 * in-scan key-set cap, the rule delivers the keys quantized to a grid —
 * runtime-fresh values through the stock DynamicPruningSubquery channel,
 * ~buckets anchors instead of the raw distinct keys — and the probe's
 * `graft-parquet` scan expands each anchor `v` back to the range
 * `[v, v+w]` via the injected `graft.quant.<col>` read option. Closes
 * the last structural gap vs the reference's scan pushdown, which builds
 * its filters fresh at runtime and uncapped
 * (/root/reference/src/operators/physical_create_bf.cpp:282-350,
 * /root/reference/src/optimizer/rpt_optimizer.cpp:1401-1501).
 *
 * The correctness spine pinned here:
 *  1. COVERAGE: anchor(k) <= k <= anchor(k)+w for every key, including
 *     keys far outside the footer-derived grid — a stale grid can only
 *     cost resolution, never rows.
 *  2. INTERPRETATION: a width-marked column treats delivered IN values
 *     as ranges when pruning files, never as exact keys; the scan's
 *     reader returns every row of a kept file.
 *  3. END-TO-END: forced over-cap joins return rule-off-identical rows
 *     while the probe scan measurably prunes files from RUNTIME
 *     (filtered-build) values.
 */
class QuantizedOverCapSuite extends SparkTestBase {

  // --- 1. the coverage invariant -----------------------------------------

  private def anchorOf(dt: DataType, w: Long, key: Any): Any = {
    val attr = AttributeReference("k", dt, nullable = true)()
    val qe = PredicateTransferRule.quantExpr(attr, w)
      .getOrElse(fail(s"no quant expr for $dt"))
    val bound = qe.transform {
      case a: AttributeReference if a.exprId == attr.exprId =>
        BoundReference(0, dt, nullable = true)
    }
    bound.eval(InternalRow(key))
  }

  test("coverage: anchor(k) <= k <= anchor(k)+w for keys on and off any grid") {
    def longOf(dt: DataType, v: Any): Long = v match {
      case b: Byte => b.toLong
      case s: Short => s.toLong
      case i: Int => i.toLong
      case l: Long => l
    }
    val cases: Seq[(DataType, Long, Seq[Any])] = Seq(
      (LongType, 10L, Seq(0L, 1L, 9L, 10L, 37L, -1L, -10L, -999999L,
        123456789012L, (1L << 60), -(1L << 60),
        // within w of Long.MinValue the raw `l - pmod(l, w)` would wrap
        // (non-ANSI) or throw (ANSI) — these pin the Long-domain clamp
        Long.MinValue, Long.MinValue + 1, Long.MinValue + 9,
        Long.MinValue + 10, Long.MinValue + 11)),
      (LongType, 1L, Seq(-5L, 0L, 7L, Long.MinValue, Long.MinValue + 1)),
      (TimestampType, 1000L,
        Seq(Long.MinValue, Long.MinValue + 999, Long.MinValue + 1000)),
      (IntegerType, 97L, Seq(Int.MinValue, Int.MinValue + 1, -100000, -1, 0,
        1, 96, 97, 98, Int.MaxValue)),
      (ShortType, 1000L, Seq(Short.MinValue.toInt.toShort, (-1).toShort,
        0.toShort, 999.toShort, Short.MaxValue)),
      (ByteType, 300L, Seq(Byte.MinValue, (-1).toByte, 0.toByte,
        Byte.MaxValue)), // width wider than the whole domain
      (DateType, 30L, Seq(0, 1, 18000, -700000, Int.MaxValue)),
      (TimestampType, 86400000000L, Seq(0L, 1699999999000000L, -123456789L)))
    cases.foreach { case (dt, w, keys) =>
      keys.foreach { k =>
        val a = anchorOf(dt, w, k)
        assert(a != null, s"$dt anchor of $k was null")
        val (al, kl) = (longOf(dt, a), longOf(dt, k))
        assert(al <= kl && kl <= al + w,
          s"$dt w=$w: key $kl not covered by [$al, ${al + w}]")
      }
    }
    // null key -> null anchor (dropped from the delivered set; null never
    // equi-matches)
    assert(anchorOf(LongType, 10L, null) == null)
  }

  // --- 2. scan-side range interpretation ---------------------------------

  private lazy val factDir: String = {
    val dir = Files.createTempDirectory("graft_quant_fact_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/fact.parquet"
    import spark.implicits._
    // 4 files, each covering a disjoint 10k key range. Written one exact
    // range per append so the boundaries are DETERMINISTIC —
    // repartitionByRange samples its bounds, which drift with whatever
    // session conf an earlier suite left behind (this suite's straddle
    // test pins file boundaries at exact multiples of 10k)
    for (f <- 0L until 4L) {
      (f * 10000L until (f + 1) * 10000L).map(i => (i, i % 7, s"p$i"))
        .toDF("k", "grp", "pay")
        .coalesce(1).sortWithinPartitions("k")
        .write.mode("append").parquet(path)
    }
    path
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(s.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b)
      case other => other.children.flatMap(scans)
    }

  private def quantScan(width: Long): GraftParquetScan = {
    val df = spark.read.format("graft-parquet")
      .option("graft.quant.k", width.toString).load(factDir).where("grp >= 0")
    scans(df.queryExecution.executedPlan).head.scan
      .asInstanceOf[GraftParquetScan]
  }

  test("width-marked column: anchors prune files as ranges, not points") {
    // anchor 9950 with w=100 covers [9950, 10050] — straddles the
    // file-0/file-1 boundary; exact-key semantics would keep file 0 only
    val scan = quantScan(100L)
    scan.filter(Array(
      GraftParquetScan.inPredicate("k", LongType, Seq(9950L))))
    scan.toBatch.planInputPartitions()
    assert(scan.lastFilePrune.get === ((4, 2)),
      s"expected the boundary-straddling range to keep 2 files, " +
        s"got ${scan.lastFilePrune}")
  }

  test("width-marked column: conjunction of two deliveries intersects ranges") {
    val scan = quantScan(100L)
    // [10000,10100] ∧ ([10050,10150] ∪ [30000,30100]) = [10050,10100]:
    // file 1 only; the second delivery alone would also keep file 3
    scan.filter(Array(
      GraftParquetScan.inPredicate("k", LongType, Seq(10000L)),
      GraftParquetScan.inPredicate("k", LongType, Seq(10050L, 30000L))))
    scan.toBatch.planInputPartitions()
    assert(scan.lastFilePrune.get === ((4, 1)))
  }

  test("empty delivered set (empty build) prunes every file") {
    val scan = quantScan(100L)
    scan.filter(Array(GraftParquetScan.inPredicate("k", LongType, Seq.empty)))
    val parts = scan.toBatch.planInputPartitions()
    assert(scan.lastFilePrune.get === ((4, 0)))
    assert(parts.isEmpty)
  }

  // 4 Int-keyed files of 5,000 keys; the last one ends at Int.MaxValue
  private lazy val intFactDir: String = {
    val dir = Files.createTempDirectory("graft_quant_int_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/fact.parquet"
    import spark.implicits._
    for (base <- Seq(0, 10000, 20000, Int.MaxValue - 4999)) {
      (0 until 5000).map(i => base + i).toDF("k")
        .coalesce(1).write.mode("append").parquet(path)
    }
    path
  }

  test("read after filter(): every row of each kept file comes back") {
    // the scan only prunes files; its reader must return every row of a
    // kept file, including files whose anchor range ends at the type max
    def check(scan: GraftParquetScan, anchor: Any, dt: DataType,
        kept: Int, rows: Long): Unit = {
      scan.filter(Array(GraftParquetScan.inPredicate("k", dt, Seq(anchor))))
      val (read, held) = RptTestHelpers.readBack(spark, scan)
      assert(scan.lastFilePrune.get === ((4, kept)), s"anchor $anchor")
      assert(held === rows && read === held,
        s"anchor $anchor: read $read of the $held rows in the kept files")
    }
    check(quantScan(100L), 20000L, LongType, 1, 10000L)
    def intScan(width: Long): GraftParquetScan = {
      val df = spark.read.format("graft-parquet")
        .option("graft.quant.k", width.toString).load(intFactDir)
      scans(df.queryExecution.executedPlan).head.scan
        .asInstanceOf[GraftParquetScan]
    }
    check(intScan(1L), Int.MaxValue, IntegerType, 1, 5000L)
    check(intScan(100L), Int.MaxValue - 50, IntegerType, 1, 5000L)
  }

  // --- 3. end-to-end over-cap transfer -----------------------------------

  private def writeDim(lo: Long, hi: Long): String = {
    val dir = Files.createTempDirectory("graft_quant_dim_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/dim.parquet"
    import spark.implicits._
    (lo until hi).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("dk", "tag").coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  test("over-cap build delivers runtime anchors; results match rule-off") {
    val dimPath = writeDim(20000L, 21000L)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.V2_SCAN_FILTER_MAX_BUILD_ROWS -> "1") { // force over-cap
      def run(): Seq[String] = {
        val fact = spark.read.format("graft-parquet").load(factDir)
        val dim = spark.read.parquet(dimPath).where("tag = 'keep'")
        val grp = spark.read.parquet(dimPath)
          .groupBy("dk").count().withColumnRenamed("dk", "gk")
        graft.SparkTestBase.session.sparkContext.setJobGroup("quant", "e2e")
        fingerprint(fact
          .join(dim, fact("k") === dim("dk"))
          .join(grp, dim("dk") === grp("gk"))
          .groupBy("tag").agg(org.apache.spark.sql.functions.sum("grp")))
      }
      GraftParquetScan.lastFilePruneGlobal = None
      val on = run()
      val prune = GraftParquetScan.lastFilePruneGlobal
      val off = withConf(RptConf.ENABLED -> "false")(run())
      assert(on === off)
      // the dim's SURVIVING keys live in [20000, 21000) — file 2 of the
      // key-clustered fact; runtime anchors must have pruned the rest
      assert(prune.isDefined, "expected the probe scan's filter() to prune")
      assert(prune.get._1 === 4 && prune.get._2 === 1,
        s"expected 4 -> 1 files from runtime anchors, got $prune")
    }
  }

  test("quantized path stands down when DPP cleanup is disabled") {
    val dimPath = writeDim(20000L, 21000L)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false",
      RptConf.V2_SCAN_FILTER_MAX_BUILD_ROWS -> "1") {
      GraftParquetScan.lastFilePruneGlobal = None
      val fact = spark.read.format("graft-parquet").load(factDir)
      val dim = spark.read.parquet(dimPath).where("tag = 'keep'")
      val grp = spark.read.parquet(dimPath)
        .groupBy("dk").count().withColumnRenamed("dk", "gk")
      val df = fact.join(dim, fact("k") === dim("dk"))
        .join(grp, dim("dk") === grp("gk"))
        .groupBy("tag").count()
      df.collect()
      assert(GraftParquetScan.lastFilePruneGlobal.forall(p => p._1 == p._2),
        "no runtime file prune expected with DPP disabled (cleanup " +
          "inactive -> the rule must not splice anchors)")
    }
  }
}
