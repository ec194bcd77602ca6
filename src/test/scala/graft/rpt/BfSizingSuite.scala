package graft.rpt

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.expressions.{Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, BloomFilterAggregate}

/**
 * Pins bloom-filter sizing to build cardinality (VERDICT r02 #5): the
 * reference resizes at finalize from TRUE cardinality
 * (physical_create_bf.cpp:382-406, rule `rows*8 > allocated_bits`); we
 * size statically, so the static estimate must track the build — an
 * under-sized filter silently degrades FPR at scale, an over-sized
 * default (the old 1M-items fallback for a 5-row dim) wastes broadcast
 * bytes and build time.
 */
class BfSizingSuite extends SparkTestBase {

  private def bfAggs(sql: String): Seq[BloomFilterAggregate] = {
    val plan = spark.sql(sql).queryExecution.optimizedPlan
    val out = collection.mutable.ArrayBuffer[BloomFilterAggregate]()
    def fromPlan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      p.foreach(_.expressions.foreach(_.foreach {
        case ss: ScalarSubquery => fromPlan(ss.plan)
        case ae: AggregateExpression =>
          ae.aggregateFunction match {
            case bf: BloomFilterAggregate => out += bf
            case _ => ()
          }
        case _ => ()
      }))
    fromPlan(plan)
    out.toSeq
  }

  private def estItems(bf: BloomFilterAggregate): Long =
    bf.estimatedNumItemsExpression.asInstanceOf[Literal]
      .value.asInstanceOf[Number].longValue()

  test("parquet footer row counts are exact on fixture tables") {
    for (t <- Seq("region", "nation", "part", "orders", "lineitem")) {
      val df = spark.read.parquet(s"$sfDir/$t.parquet")
      val leaf = df.queryExecution.optimizedPlan.collectLeaves().head
      val counted = ParquetFooters.rowCount(leaf)
      assert(counted.contains(df.count()),
        s"$t: footer count $counted != actual ${df.count()}")
    }
  }

  test("bloom filter item estimate tracks build cardinality within 4x") {
    val sql =
      """SELECT count(*) AS n
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size < 10""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val aggs = bfAggs(sql)
      assert(aggs.nonEmpty, "no bloom filter aggregates injected")
      val partRows = spark.read.parquet(s"$sfDir/part.parquet").count()
      val lineitemRows = spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      val bound = math.max(4L * math.max(partRows, lineitemRows), 4096L)
      aggs.foreach { bf =>
        val est = estItems(bf)
        // upper: within 4x of the LARGEST possible build (or the 4096
        // floor) — catches the old 1M-default-for-a-tiny-dim failure mode
        assert(est <= bound, s"BF sized $est for builds of <= " +
          s"${math.max(partRows, lineitemRows)} rows")
        // lower: never under-sized below the floor
        assert(est >= 4096L, s"BF sized $est below the FPR floor")
      }
    }
  }

  test("footer keep-fraction scales BF sizing on the default path") {
    // sf0.01 so the scaled size clears the 4096 floor: l_quantity > 25
    // keeps ~50% of 60k lineitem rows — the default-path BF must size at
    // the scaled estimate, not the whole-table footer count; the same
    // range over an expression of the column, which the footer estimate
    // cannot price, sizes at the unscaled footer count
    val sf01 = "/root/testdata/sf0.01"
    spark.read.parquet(s"$sf01/lineitem.parquet")
      .createOrReplaceTempView("li01")
    spark.read.parquet(s"$sf01/orders.parquet")
      .createOrReplaceTempView("ord01")
    spark.read.parquet(s"$sf01/customer.parquet")
      .createOrReplaceTempView("cust01")
    val total = spark.table("li01").count()
    val sql =
      """SELECT count(*) AS n FROM li01
        |JOIN ord01 ON l_orderkey = o_orderkey
        |JOIN cust01 ON o_custkey = c_custkey
        |WHERE l_quantity > 25""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val scaled = bfAggs(sql).map(estItems)
      assert(scaled.nonEmpty, "no bloom filter aggregates injected")
      assert(scaled.forall(e => e >= (0.3 * total).toLong &&
        e <= (0.7 * total).toLong),
        s"BF not sized by the ~0.5 footer keep estimate of $total ($scaled)")
      val unscaled = bfAggs(sql.replace("l_quantity > 25",
        "l_quantity + 0 > 25")).map(estItems)
      assert(unscaled.contains(total),
        s"unpriced BF not sized at the footer count $total ($unscaled)")
    }
  }

  test("unmeasured builds fall back to the defaultItems clamp, not 1M+") {
    // a non-parquet (in-memory) build side has neither stats rowCount nor
    // footers: the default clamp must bound the estimate
    import spark.implicits._
    (1 to 50).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .createOrReplaceTempView("mem_dim")
    (1 to 50).map(i => (i.toLong, s"w$i")).toDF("k2", "v2")
      .createOrReplaceTempView("mem_dim2")
    val sql =
      """SELECT count(*) AS n FROM lineitem
        |JOIN mem_dim ON l_partkey = k
        |JOIN mem_dim2 ON l_suppkey = k2
        |WHERE v LIKE 'v%'""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.DEFAULT_BF_ITEMS -> "8192") {
      val aggs = bfAggs(sql)
      assert(aggs.nonEmpty, "no bloom filter aggregates injected")
      aggs.foreach { bf =>
        val est = estItems(bf)
        assert(est <= 65536L,
          s"unmeasured build sized $est — default clamp not applied")
      }
    }
  }

  test("measured-keep gate: weakly-selective builds stand down, " +
      "selective ones transfer (footer estimate)") {
    // s_acctbal > -999999 keeps EVERY supplier: statically a qualifying
    // range predicate, measurably useless by its footer range — the q05
    // class
    val weak =
      """SELECT count(*) AS n FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE s_acctbal > -999999 AND o_totalprice > 1e18""".stripMargin
    // p_size < 10 keeps ~20% of parts: measurably selective
    val strong =
      """SELECT count(*) AS n FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size < 10""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def buildTables(sql: String): Set[String] =
        RptTestHelpers.buildTables(spark, sql)
      // supplier's keep-everything range is measured out; orders'
      // impossible predicate (keeps 0 rows) still builds
      val weakBuilds = buildTables(weak)
      assert(!weakBuilds.contains("supplier"),
        s"weak supplier build was not gated (builds: $weakBuilds)")
      assert(weakBuilds.contains("orders"),
        s"selective orders build lost (builds: $weakBuilds)")
      // the ~20%-selective part filter stays under the 0.8 keep cap
      assert(buildTables(strong).contains("part"),
        "selective part build lost its probe")
      // and results stay correct with the gate active
      val on = fingerprint(spark.sql(strong))
      val off = withConf(RptConf.ENABLED -> "false")(
        fingerprint(spark.sql(strong)))
      assert(on === off)
    }
  }

  test("probe-relative cap admits and correctly sizes over-absolute builds") {
    // sf100 q27 regression (RPTBENCH_r13 part 2): with only the absolute
    // maxBuildRows cap, every strong reducer of a fact-scale probe is
    // gated and the query pays probe overhead for nothing (0.87×). The
    // probe-relative path must (a) admit a build bigger than the absolute
    // cap when the probe dwarfs it and (b) size its filter past
    // MAX_BF_ITEMS so it does not saturate into a pass-through.
    // sf0.01 tables so cardinalities clear the 4096-item sizing floor.
    val sf01 = "/root/testdata/sf0.01"
    for (t <- Seq("lineitem", "orders"))
      spark.read.parquet(s"$sf01/$t.parquet").createOrReplaceTempView(s"rel_$t")
    val sql =
      """SELECT count(*) AS n
        |FROM rel_lineitem
        |JOIN rel_orders ON l_orderkey = o_orderkey
        |WHERE year(o_orderdate) < 1999""".stripMargin
    val base = Seq(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.MIN_PROBE_ROWS -> "0",
      RptConf.MIN_EDGES -> "1",
      RptConf.MAX_BUILD_ROWS -> "1000", // orders (~15k) is over-absolute
      // the date range is written over year(): footer keep-scaling of a
      // priceable range would shrink the estimate back under the 4096
      // sizing floor at this fixture size, hiding what this test pins
      // (the CAP lift, not the estimate)
      RptConf.MAX_BF_ITEMS -> "4096")
    withConf(base :+ (RptConf.BIG_BUILD_PROBE_FRACTION -> "0") : _*) {
      assert(bfAggs(sql).isEmpty,
        "over-absolute build transferred with the relative path disabled")
    }
    withConf(base :+ (RptConf.BIG_BUILD_PROBE_FRACTION -> "0.5") : _*) {
      val aggs = bfAggs(sql) // lineitem (~60k) * 0.5 >= orders → admitted
      assert(aggs.nonEmpty, "probe-relative path did not admit the build")
      val est = aggs.map(estItems).max
      assert(est > 4096L,
        s"admitted big build still clamped to MAX_BF_ITEMS (est=$est)")
      assert(est <= 4L * 15000L, s"big-build estimate unmoored: $est")
      val on = fingerprint(spark.sql(sql))
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      assert(on === off)
    }
    for (t <- Seq("lineitem", "orders"))
      spark.catalog.dropTempView(s"rel_$t")
  }

  test("effective-card admission: a filtered in-band probe admits " +
      "relative to its POST-FILTER stream") {
    // VERDICT r17 #3 / JOBREAL_F2_r17 part 3: the probe-relative path
    // admitted an 8.3M-item name build on cast_info's RAW 72.5M rows
    // while ci's own filter keeps ~10% — the build is the size of the
    // whole probe stream and can never be repaid. In the banked gate's
    // extended band with a MEASURED keep, admission must price the
    // probe's effective (keep x card) rows; keptMult=0 (the extension's
    // full off-switch) restores raw pricing.
    val sf01 = "/root/testdata/sf0.01"
    for (t <- Seq("lineitem", "orders"))
      spark.read.parquet(s"$sf01/$t.parquet").createOrReplaceTempView(s"eff_$t")
    val liBytes = spark.table("eff_lineitem")
      .queryExecution.optimizedPlan.stats.sizeInBytes.toLong
    // l_quantity < 3 keeps ~4% of lineitem (footer-priceable range);
    // o_orderdate < 1992-06 keeps ~7% of orders (a selective build)
    val sql =
      """SELECT count(*) AS n
        |FROM eff_lineitem
        |JOIN eff_orders ON l_orderkey = o_orderkey
        |WHERE o_orderdate < DATE '1992-06-01' AND l_quantity < 3""".stripMargin
    val base = Seq(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.MIN_PROBE_ROWS -> "0",
      RptConf.MIN_EDGES -> "1",
      RptConf.MAX_BUILD_ROWS -> "1000", // orders (~15k) is over-absolute
      // raw: 60k lineitem x 0.5 >= 15k orders -> admitted;
      // effective: 60k x ~0.04 x 0.5 = ~1.2k < 15k -> gated
      RptConf.BIG_BUILD_PROBE_FRACTION -> "0.5",
      // place the lineitem probe site in the extended band
      // (base = liBytes/2 <= liBytes < 4x base), budget non-binding
      RptConf.MIN_PLAN_WORK_BYTES -> "0",
      RptConf.WAVE_COST_BYTES -> "1",
      RptConf.WAVE_BUILD_FRACTION -> "0.0",
      RptConf.FILTERED_PROBE_WAVE_MULTIPLE -> (liBytes / 2).toString)
    // keptMult=1: band active, but the kept volume (~4% x scan) is over
    // the 1-byte kept ceiling so the site is NOT banked — what this test
    // sees is purely the admission pricing
    withConf(base :+ (RptConf.FILTERED_PROBE_KEPT_WAVE_MULTIPLE -> "1"): _*) {
      assert(bfAggs(sql).isEmpty,
        "over-absolute build must be gated on the probe's effective card")
      // perf-only: the gate must not change results
      val on = fingerprint(spark.sql(sql))
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      assert(on === off)
    }
    withConf(base :+ (RptConf.FILTERED_PROBE_KEPT_WAVE_MULTIPLE -> "0"): _*) {
      assert(bfAggs(sql).nonEmpty,
        "keptMult=0 must restore raw-card probe-relative admission")
    }
    for (t <- Seq("lineitem", "orders"))
      spark.catalog.dropTempView(s"eff_$t")
  }
}
