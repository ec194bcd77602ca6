package graft.rpt

import java.nio.file.Files

import org.apache.spark.sql.graft.sources.GraftParquetScan
import org.apache.spark.sql.types._

import graft.SparkTestBase

/**
 * The over-cap ENVELOPE in-scan transfer for keys the quantized grid
 * cannot express (VARCHAR and other non-integral orderable types): the
 * build side delivers its runtime MIN/MAX through the stock
 * DynamicPruningSubquery channel, and the probe's `graft-parquet` scan —
 * marked with `graft.range.<col>` — reads the delivered value set as the
 * whole ordered range `[min, max]`. The type-generic half of the
 * reference's runtime min/max scan filters
 * (/root/reference/src/operators/physical_create_bf.cpp:131-176,
 * /root/reference/src/optimizer/rpt_optimizer.cpp:1401-1501):
 * runtime-fresh, uncapped, no planning-time staleness caveat.
 *
 * Pinned here:
 *  1. INTERPRETATION: a range-marked column keeps every file inside the
 *     envelope — including files holding only values strictly between
 *     the two delivered points (exact-IN semantics would drop them),
 *     and its reader returns every row of each kept file.
 *  2. Conjunction of deliveries intersects envelopes; an empty delivered
 *     set (empty build) prunes every file.
 *  3. END-TO-END: a forced over-cap STRING-keyed join returns
 *     rule-off-identical rows while the probe scan prunes files from the
 *     runtime (filtered-build) envelope.
 */
class EnvelopeOverCapSuite extends SparkTestBase {

  // 4 files, each a disjoint zero-padded string-key range (clustered
  // layout — sk00000..sk09999 / sk10000.. etc.)
  private lazy val factDir: String = {
    val dir = Files.createTempDirectory("graft_env_fact_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/fact.parquet"
    import spark.implicits._
    // exact-boundary files (see QuantizedOverCapSuite.factDir: sampled
    // repartitionByRange bounds drift with leftover session conf)
    for (f <- 0L until 4L) {
      (f * 10000L until (f + 1) * 10000L)
        .map(i => (f"sk$i%05d", i % 7, s"p$i"))
        .toDF("sk", "grp", "pay")
        .coalesce(1).sortWithinPartitions("sk")
        .write.mode("append").parquet(path)
    }
    path
  }

  private def rangeScan(): GraftParquetScan =
    rangeScan(spark.read.format("graft-parquet")
      .option("graft.range.sk", "1").load(factDir).where("grp >= 0"))

  private def rangeScan(df: org.apache.spark.sql.DataFrame): GraftParquetScan = {
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
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
    scans(df.queryExecution.executedPlan).head.scan
      .asInstanceOf[GraftParquetScan]
  }

  test("range-marked column: delivered pair keeps every file inside the envelope") {
    // [sk05000, sk25000] spans files 0,1,2 — exact-IN semantics would
    // keep only the two files containing the endpoints (0 and 2)
    val scan = rangeScan()
    scan.filter(Array(GraftParquetScan.inPredicate("sk", StringType,
      Seq(org.apache.spark.unsafe.types.UTF8String.fromString("sk05000"),
        org.apache.spark.unsafe.types.UTF8String.fromString("sk25000")))))
    scan.toBatch.planInputPartitions()
    assert(scan.lastFilePrune.get === ((4, 3)),
      s"expected the envelope to keep 3 files, got ${scan.lastFilePrune}")
  }

  test("range-marked column: two deliveries intersect envelopes") {
    // [sk05000, sk25000] ∧ [sk12000, sk38000] = [sk12000, sk25000]:
    // files 1 and 2 only
    val scan = rangeScan()
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    scan.filter(Array(
      GraftParquetScan.inPredicate("sk", StringType, Seq(u("sk05000"), u("sk25000"))),
      GraftParquetScan.inPredicate("sk", StringType, Seq(u("sk12000"), u("sk38000")))))
    scan.toBatch.planInputPartitions()
    assert(scan.lastFilePrune.get === ((4, 2)))
  }

  test("empty delivered set (empty build) prunes every file") {
    val scan = rangeScan()
    scan.filter(Array(
      GraftParquetScan.inPredicate("sk", StringType, Seq.empty)))
    val parts = scan.toBatch.planInputPartitions()
    assert(scan.lastFilePrune.get === ((4, 0)))
    assert(parts.isEmpty)
  }

  test("read after filter(): every row of each kept file comes back") {
    // one file of 10,000 keys in many small row groups: the envelope
    // [sk02000, sk02100] meets one file, and only a few of its row
    // groups, yet the scan's reader must return the whole file
    val dir = Files.createTempDirectory("graft_env_rg_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/fact.parquet"
    import spark.implicits._
    for (f <- 0L until 2L) {
      (f * 10000L until (f + 1) * 10000L).map(i => f"sk$i%05d").toDF("sk")
        .coalesce(1).write.mode("append")
        .option("parquet.block.size", "8192").parquet(path)
    }
    val file = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val rowGroups = ParquetFooters.footer(
      spark.sessionState.newHadoopConf(),
      new org.apache.hadoop.fs.Path(file.getAbsolutePath), file.length())
      .map(_.columns("sk").size)
    assert(rowGroups.exists(_ > 1), s"expected several row groups: $rowGroups")
    val df = spark.read.format("graft-parquet")
      .option("graft.range.sk", "1").load(path)
    val scan = rangeScan(df)
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    scan.filter(Array(
      GraftParquetScan.inPredicate("sk", StringType, Seq(u("sk02000"), u("sk02100")))))
    val (read, held) = RptTestHelpers.readBack(spark, scan)
    assert(scan.lastFilePrune.get === ((2, 1)))
    assert(held === 10000L && read === held,
      s"read $read of the $held rows in the kept file")
  }

  // --- end-to-end over-cap transfer on a string key ----------------------

  private def writeDim(lo: Long, hi: Long): String = {
    val dir = Files.createTempDirectory("graft_env_dim_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/dim.parquet"
    import spark.implicits._
    (lo until hi).map(i => (f"sk$i%05d", if (i % 2 == 0) "keep" else "drop"))
      .toDF("dk", "tag").coalesce(1).write.mode("overwrite").parquet(path)
    path
  }

  test("over-cap string-keyed build delivers a runtime envelope; results match rule-off") {
    val dimPath = writeDim(20000L, 21000L)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.V2_SCAN_FILTER_MAX_BUILD_ROWS -> "1") { // force over-cap
      def run(): Seq[String] = {
        val fact = spark.read.format("graft-parquet").load(factDir)
        val dim = spark.read.parquet(dimPath).where("tag = 'keep'")
        val grp = spark.read.parquet(dimPath)
          .groupBy("dk").count().withColumnRenamed("dk", "gk")
        fingerprint(fact
          .join(dim, fact("sk") === dim("dk"))
          .join(grp, dim("dk") === grp("gk"))
          .groupBy("tag").agg(org.apache.spark.sql.functions.sum("grp")))
      }
      GraftParquetScan.lastFilePruneGlobal = None
      val on = run()
      val prune = GraftParquetScan.lastFilePruneGlobal
      val off = withConf(RptConf.ENABLED -> "false")(run())
      assert(on === off)
      // the dim's surviving keys live in [sk20000, sk21000) — file 2 of
      // the clustered fact; the runtime envelope must have pruned the rest
      assert(prune.isDefined, "expected the probe scan's filter() to prune")
      assert(prune.get._1 === 4 && prune.get._2 === 1,
        s"expected 4 -> 1 files from the runtime envelope, got $prune")
    }
  }

  test("envelope stands down when DPP cleanup is disabled") {
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
      val df = fact.join(dim, fact("sk") === dim("dk"))
        .join(grp, dim("dk") === grp("gk"))
        .groupBy("tag").count()
      df.collect()
      assert(GraftParquetScan.lastFilePruneGlobal.forall(p => p._1 == p._2),
        "no runtime file prune expected with DPP disabled")
    }
  }
}
