package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.graft.sources.GraftParquetScan
import org.apache.spark.sql.types.LongType

import graft.SparkTestBase

/**
 * The `graft-parquet` DSv2 source: stock parquet reading plus
 * SupportsRuntimeV2Filtering — runtime join-key values prune files by
 * driver-side footer ranges. This is
 * the behavior RuntimeV2FilteringSuite records as impossible on the
 * STOCK file source; this source closes it for opted-in tables.
 */
class GraftParquetSourceSuite extends SparkTestBase {

  private lazy val factDir: String = {
    val dir = Files.createTempDirectory("graft_v2fact_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/fact.parquet"
    import spark.implicits._
    // key-clustered layout: 4 files, each covering a disjoint k range —
    // the layout where file-level runtime pruning pays
    (0L until 40000L).map(i => (i, i % 97, s"p$i")).toDF("k", "grp", "payload")
      .repartitionByRange(4, $"k")
      .sortWithinPartitions("k")
      .write.mode("overwrite").parquet(path)
    path
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case b: BatchScanExec => Seq(b)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  test("reads match the stock parquet source") {
    val v2 = spark.read.format("graft-parquet").load(factDir)
    val stock = spark.read.parquet(factDir)
    assert(v2.schema === stock.schema)
    assert(fingerprint(v2) === fingerprint(stock))
    // static pushdown is intact through the subclass
    val filtered = v2.where("k = 17 AND payload = 'p17'")
    assert(filtered.count() === 1)
    assert(scans(filtered.queryExecution.executedPlan).nonEmpty)
  }

  test("filter() with runtime IN values prunes files by footer range") {
    val df = spark.read.format("graft-parquet").load(factDir).where("grp >= 0")
    val scan = scans(df.queryExecution.executedPlan).head.scan
      .asInstanceOf[GraftParquetScan]
    // the engine-side contract: filter() then plan partitions
    scan.filter(Array(
      GraftParquetScan.inPredicate("k", LongType, Seq(123L, 456L))))
    val parts = scan.toBatch.planInputPartitions()
    val (before, after) = scan.lastFilePrune.get
    assert(before === 4, s"expected the 4-file clustered layout, got $before")
    assert(after === 1,
      s"both keys live in file 0 — expected 1 surviving file, got $after")
    assert(parts.nonEmpty)
  }

  test("stock DPP plans a runtime group filter against the scan; rows reduced") {
    withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      "spark.graft.rpt.enabled" -> "false") {
      import spark.implicits._
      val dimDir = Files.createTempDirectory("graft_v2dim_").toFile
      dimDir.deleteOnExit()
      val dimPath = s"${dimDir.getAbsolutePath}/dim.parquet"
      Seq((100L, "keep"), (200L, "keep"), (30000L, "drop"))
        .toDF("dk", "tag").write.mode("overwrite").parquet(dimPath)

      val fact = spark.read.format("graft-parquet").load(factDir)
      val dim = spark.read.parquet(dimPath).where("tag = 'keep'")
      val joined = fact.join(dim, $"k" === $"dk").groupBy().count()
      assert(joined.collect().map(_.getLong(0)).head === 2L)

      val scanExecs = scans(joined.queryExecution.executedPlan)
        .filter(_.scan.isInstanceOf[GraftParquetScan])
      assert(scanExecs.nonEmpty, "expected the graft-parquet BatchScanExec")
      val withRf = scanExecs.filter(_.runtimeFilters.nonEmpty)
      assert(withRf.nonEmpty,
        "expected DPP to plan a runtime group filter against the " +
          "SupportsRuntimeV2Filtering scan")
      // the runtime values reached the scan and pruned the clustered files
      val gs = withRf.head.scan.asInstanceOf[GraftParquetScan]
      val (before, after) = gs.lastFilePrune.get
      assert(after < before,
        s"runtime values should drop key-disjoint files ($before -> $after)")
      // and the scan read fewer rows than the full 40k corpus
      val scanned = withRf.head.metrics("numOutputRows").value
      assert(scanned < 40000L,
        s"runtime filter should reduce scan output rows, read $scanned")
    }
  }

  test("RPT splices the in-scan transfer in the SHUFFLE regime (no broadcast)") {
    // broadcast off: stock DPP (reuseBroadcastOnly) stands down, so any
    // runtime filter on the scan comes from the RPT rule's spliced
    // DynamicPruningSubquery — the reference's dynamic filter pushdown
    // into LOGICAL_GET, which Spark itself has no shuffle-regime path for
    import spark.implicits._
    val dimDir = Files.createTempDirectory("graft_v2dim2_").toFile
    dimDir.deleteOnExit()
    Seq((100L, "keep"), (200L, "keep"), (30000L, "drop"))
      .toDF("dk", "tag").write.mode("overwrite")
      .parquet(s"${dimDir.getAbsolutePath}/dim.parquet")
    Seq((0L, "g0"), (1L, "g1"), (2L, "g2"))
      .toDF("gk", "gname").write.mode("overwrite")
      .parquet(s"${dimDir.getAbsolutePath}/grp.parquet")

    def run(): org.apache.spark.sql.DataFrame = {
      val fact = spark.read.format("graft-parquet").load(factDir)
      val dim = spark.read.parquet(s"${dimDir.getAbsolutePath}/dim.parquet")
        .where("tag = 'keep'")
      val grp = spark.read.parquet(s"${dimDir.getAbsolutePath}/grp.parquet")
      fact.join(dim, $"k" === $"dk").join(grp, $"grp" === $"gk")
        .groupBy($"tag").count()
    }
    withConf(
      "spark.graft.rpt.enabled" -> "true",
      "spark.graft.rpt.minProbeRows" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val calls0 = GraftParquetScan.filterCalls.get
      GraftParquetScan.lastFilePruneGlobal = None
      val on = run()
      val onRows = fingerprint(on)
      val factScans = scans(on.queryExecution.executedPlan)
        .filter(_.scan.isInstanceOf[GraftParquetScan])
      assert(factScans.exists(_.runtimeFilters.nonEmpty),
        "RPT should splice a runtime group filter onto the v2 fact scan " +
          "with broadcast disabled (stock DPP cannot)")
      // the fact appears in TWO nodes (the main probe and inside the
      // transfer's build subquery) — assert on whichever instance the
      // engine runtime-filtered at execution
      // AQE re-planning rebuilds scan instances between rounds, so the
      // executing (pruning) instance is not in the final tree — observe
      // through the companion's JVM-global mirror
      assert(GraftParquetScan.filterCalls.get > calls0,
        "the runtime group filter never reached a fact scan's filter()")
      val (before, after) = GraftParquetScan.lastFilePruneGlobal.get
      assert(after < before,
        s"build keys {100, 200} live in one clustered file ($before -> $after)")

      // conf off: no runtime filters spliced
      val noV2 = withConf("spark.graft.rpt.v2ScanFilter" -> "false") {
        val df = run(); df.collect()
        scans(df.queryExecution.executedPlan)
          .filter(_.scan.isInstanceOf[GraftParquetScan])
      }
      assert(noV2.forall(_.runtimeFilters.isEmpty))

      // and the transfer never changes results
      val off = withConf("spark.graft.rpt.enabled" -> "false")(
        fingerprint(run()))
      assert(onRows === off)
    }
  }

  test("both sides v2: build subquery over a graft-parquet dim still plans") {
    // q37's sf1 shape: the BUILD side is itself a graft-parquet read. The
    // spliced DynamicPruningSubquery captures the build plan AFTER the
    // optimizer's one-shot V2ScanRelationPushDown pass, and no later
    // batch traverses freshly-injected subqueries — without planV2Scans
    // at capture time, AQE's standalone subquery compile (shuffle
    // regime, no reusable broadcast) dies with "No plan for RelationV2".
    import spark.implicits._
    val dimDir = Files.createTempDirectory("graft_v2dim3_").toFile
    dimDir.deleteOnExit()
    Seq((100L, "keep"), (200L, "keep"), (30000L, "drop"))
      .toDF("dk", "tag").write.mode("overwrite")
      .parquet(s"${dimDir.getAbsolutePath}/dim.parquet")

    def run(): org.apache.spark.sql.DataFrame = {
      val fact = spark.read.format("graft-parquet").load(factDir)
      val dim = spark.read.format("graft-parquet")
        .load(s"${dimDir.getAbsolutePath}/dim.parquet").where("tag = 'keep'")
      fact.join(dim, $"k" === $"dk").groupBy($"tag").count()
    }
    withConf(
      "spark.graft.rpt.enabled" -> "true",
      "spark.graft.rpt.minProbeRows" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val on = run()
      // the invariant the sf1 crash violated: every spliced
      // DynamicPruningSubquery plan must carry BUILT v2 scans — an
      // unconverted DataSourceV2Relation dies in AQE's standalone
      // subquery compile ("No plan for RelationV2"), a path the tiny
      // fixture's plans don't reach but sf1's do
      import org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      val dpps = on.queryExecution.optimizedPlan.collectWithSubqueries {
        case p => p.expressions.flatMap(_.collect {
          case d: DynamicPruningSubquery => d
        })
      }.flatten
      assert(dpps.nonEmpty, "expected an RPT-spliced DPP subquery")
      dpps.foreach(d => assert(
        !d.plan.exists(_.isInstanceOf[DataSourceV2Relation]),
        s"unconverted v2 relation inside a DPP build plan:\n${d.plan}"))
      val onRows = fingerprint(on)
      assert(scans(on.queryExecution.executedPlan)
        .exists(_.runtimeFilters.nonEmpty))
      val off = withConf("spark.graft.rpt.enabled" -> "false")(
        fingerprint(run()))
      assert(onRows === off)
    }
  }

  test("v2 gate keys on the FILTERED build size when an estimate exists") {
    // warehouse shape: the dim's UNFILTERED card exceeds the cap but its
    // static predicate keeps almost nothing. The gate uses a filtered
    // estimate only where one exists (CBO's filtered rowCount); this
    // path-based read has none, so the raw card gates the exact splice
    // and the over-cap path must cover the build instead. Built on
    // the 3-table shape of the shuffle-regime test above — the shape
    // where STOCK v2 runtime filtering stands down (its noV2 check pins
    // that), so every runtime filter observed here is the RPT splice
    import spark.implicits._
    val dimDir = Files.createTempDirectory("graft_v2dim4_").toFile
    dimDir.deleteOnExit()
    Seq((100L, "keep"), (200L, "keep"), (30000L, "drop"))
      .toDF("dk", "tag").write.mode("overwrite")
      .parquet(s"${dimDir.getAbsolutePath}/dim.parquet")
    Seq((0L, "g0"), (1L, "g1"), (2L, "g2"))
      .toDF("gk", "gname").write.mode("overwrite")
      .parquet(s"${dimDir.getAbsolutePath}/grp.parquet")

    def run(): org.apache.spark.sql.DataFrame = {
      val fact = spark.read.format("graft-parquet").load(factDir)
      val dim = spark.read.parquet(s"${dimDir.getAbsolutePath}/dim.parquet")
        .where("tag = 'keep'")
      val grp = spark.read.parquet(s"${dimDir.getAbsolutePath}/grp.parquet")
      fact.join(dim, $"k" === $"dk").join(grp, $"grp" === $"gk")
        .groupBy($"tag").count()
    }
    withConf(
      "spark.graft.rpt.enabled" -> "true",
      "spark.graft.rpt.minProbeRows" -> "0",
      // cap below the dim's unfiltered card (3) but >= its filtered
      // count (2)
      "spark.graft.rpt.v2ScanFilterMaxBuildRows" -> "2",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // AQE rebuilds scan instances, so assert on the rule's OUTPUT (the
      // spliced DPP expression in the optimized plan), not on the final
      // tree's runtimeFilters
      import org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery
      // onlyInBroadcast=false is the rule's signature — stock
      // PartitionPruning inserts reuse-only (true) subqueries that are
      // planned away without a reusable broadcast
      def dppCount(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collectWithSubqueries {
          case p => p.expressions.flatMap(_.collect {
            case d: DynamicPruningSubquery if !d.onlyInBroadcast => d })
        }.flatten.size
      // without a filtered estimate the raw card gates the EXACT key-set
      // splice off; since r12 the default-on quantized over-cap path
      // delivers anchors instead (QuantizedOverCapSuite) — stand that
      // down too to isolate the gate under test
      withConf(graft.rpt.RptConf.V2_QUANTIZED_OVER_CAP -> "false") {
        assert(dppCount(run()) === 0,
          "raw card 3 > cap 2 must gate the exact in-scan transfer off")
      }
      // with the quantized path at its default the over-cap build still
      // reaches the scan — as grid anchors through the same channel
      assert(dppCount(run()) > 0,
        "the default-on quantized path must cover the over-cap build")
      assert(fingerprint(run()) ===
        withConf("spark.graft.rpt.enabled" -> "false")(fingerprint(run())))
    }
  }

  test("STATIC pushed filters prune whole files from footer ranges") {
    // stock Spark only uses pushed filters for row-group skipping inside
    // already-scheduled tasks; the graft source decides at the driver
    withConf("spark.graft.rpt.enabled" -> "false") {
      GraftParquetScan.lastFilePruneGlobal = None
      val df = spark.read.format("graft-parquet").load(factDir)
        .where("k BETWEEN 100 AND 200 OR k BETWEEN 30000 AND 30100")
      assert(df.count() === 202L)
      val (before, after) = GraftParquetScan.lastFilePruneGlobal.get
      assert(before === 4 && after === 2,
        s"the OR-of-ranges touches 2 of 4 clustered files ($before -> $after)")
      // a filter the footer cannot refute keeps everything (payload is a
      // high-cardinality string — ranges exist but span the whole file)
      GraftParquetScan.lastFilePruneGlobal = None
      val all = spark.read.format("graft-parquet").load(factDir)
        .where("payload != 'nope'")
      assert(all.count() === 40000L)
      GraftParquetScan.lastFilePruneGlobal.foreach { case (b, a) =>
        assert(a === b, "an irrefutable filter must not drop files")
      }
    }
  }

  test("null runtime key values are dropped, not NPE'd") {
    // a NULLABLE build-side join key can put null literals into the
    // runtime IN-set; nulls never equi-match, so the parse drops them —
    // pre-fix, the UTF8String comparator of the footer check NPE'd
    // inside partitions()
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val df = spark.read.format("graft-parquet").load(factDir).where("grp >= 0")
    val scan = scans(df.queryExecution.executedPlan).head.scan
      .asInstanceOf[GraftParquetScan]
    // string column: the null-hostile comparator path
    scan.filter(Array(GraftParquetScan.inPredicate(
      "payload", StringType, Seq(null, UTF8String.fromString("p17")))))
    val parts = scan.toBatch.planInputPartitions() // NPE'd before the fix
    assert(parts.nonEmpty)
    assert(fingerprint(df.where("payload = 'p17'")) ===
      fingerprint(spark.read.parquet(factDir)
        .where("grp >= 0 AND payload = 'p17'")))

    // all-null build set: the empty IN-set legitimately prunes every file
    val df2 = spark.read.format("graft-parquet").load(factDir).where("grp >= 1")
    val scan2 = scans(df2.queryExecution.executedPlan).head.scan
      .asInstanceOf[GraftParquetScan]
    scan2.filter(Array(GraftParquetScan.inPredicate(
      "payload", StringType, Seq(null, null))))
    assert(scan2.toBatch.planInputPartitions().isEmpty,
      "an all-null (hence empty) runtime key set matches no row")
  }

  test("end-to-end: nullable build key joins don't break the v2 splice") {
    import spark.implicits._
    val dimDir = Files.createTempDirectory("graft_v2dimnull_").toFile
    dimDir.deleteOnExit()
    // nullable join key with real nulls in the kept build rows
    Seq((java.lang.Long.valueOf(100L), "keep"),
        (null.asInstanceOf[java.lang.Long], "keep"),
        (java.lang.Long.valueOf(200L), "keep"),
        (java.lang.Long.valueOf(30000L), "drop"))
      .toDF("dk", "tag").write.mode("overwrite")
      .parquet(s"${dimDir.getAbsolutePath}/dim.parquet")
    def run(): org.apache.spark.sql.DataFrame = {
      val fact = spark.read.format("graft-parquet").load(factDir)
      val dim = spark.read.parquet(s"${dimDir.getAbsolutePath}/dim.parquet")
        .where("tag = 'keep'")
      fact.join(dim, $"k" === $"dk").groupBy($"tag").count()
    }
    withConf(
      "spark.graft.rpt.enabled" -> "true",
      "spark.graft.rpt.minProbeRows" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val on = fingerprint(run())
      val off = withConf("spark.graft.rpt.enabled" -> "false")(
        fingerprint(run()))
      assert(on === off)
    }
  }

  test("conflicting second filter() disables pruning instead of over-pruning") {
    val df = spark.read.format("graft-parquet").load(factDir)
    val scan = scans(df.queryExecution.executedPlan).head.scan
      .asInstanceOf[GraftParquetScan]
    def inPred(v: Long) =
      GraftParquetScan.inPredicate("k", LongType, Seq(v))
    scan.filter(Array(inPred(123L)))
    scan.filter(Array(inPred(39000L))) // a different consumer's values
    val parts = scan.toBatch.planInputPartitions()
    assert(parts.length >= 4 || parts.map(_.asInstanceOf[
      org.apache.spark.sql.execution.datasources.FilePartition]
      .files.length).sum === 4,
      "conflicting filters must fall back to the unpruned file set")
  }
}
