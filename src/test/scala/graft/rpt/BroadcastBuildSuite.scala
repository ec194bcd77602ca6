package graft.rpt

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.graft.BroadcastBloomBuildExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.util.sketch.BloomFilter

import graft.SparkTestBase

/**
 * [[ResolveBroadcastBuilds]]: a bloom build over a side the plan already
 * broadcasts either disappears (the hash join above the probe enforces the
 * same semi-join) or is read from the broadcast relation — no scan and no
 * job of its own — and every other build keeps its aggregate subquery.
 *
 * Fixtures are three small parquet tables written per run, so the build
 * and broadcast sides are file scans: a fact `f`, a bridge `b` that the
 * plan broadcasts into the fact's joins, and a filtered dim `d` with
 * null-key rows. `maxBuildRows` keeps every build but the ones a test
 * names under the gate.
 */
class BroadcastBuildSuite extends SparkTestBase {

  private lazy val dir = Files.createTempDirectory("graft-bcbuild").toFile

  override def beforeAll(): Unit = {
    super.beforeAll()
    // d: 100 keys (every 3rd flagged) + 5 flagged rows with null keys
    spark.sql(
      """SELECT id AS k, CAST(id AS INT) AS ki, CAST(id % 7 AS INT) AS kj,
        |       concat('s', id % 50) AS ks, IF(id % 3 = 0, 1, 0) AS flag
        |FROM range(100)
        |UNION ALL
        |SELECT NULL, NULL, NULL, NULL, 1 FROM range(5)""".stripMargin)
      .write.parquet(s"$dir/d")
    // b: keys 0..119 (20 without a dim row) + null-key rows
    spark.sql(
      """SELECT id, IF(id % 40 = 7, NULL, id % 120) AS dk,
        |       CAST(id % 120 AS INT) AS dki, CAST(id % 120 % 7 AS INT) AS dkj,
        |       concat('s', id % 120 % 50) AS dks
        |FROM range(300)""".stripMargin).write.parquet(s"$dir/b")
    spark.sql("SELECT id AS fid, id % 110 AS a, id % 350 AS b FROM range(2000)")
      .write.parquet(s"$dir/f")
    Seq("d", "b", "f").foreach(t =>
      spark.read.parquet(s"$dir/$t").createOrReplaceTempView(s"bc_$t"))
  }

  override def afterAll(): Unit = {
    try org.apache.commons.io.FileUtils.deleteDirectory(dir)
    finally super.afterAll()
  }

  // probes under broadcast joins, one forward build (d, ~39 rows): b and
  // f are over the build cap, so no other op plans a build
  private val onlyDimBuilds = Seq(
    RptConf.ENABLED -> "true",
    RptConf.SKIP_BROADCASTABLE_BUILDS -> "false",
    RptConf.MAX_BUILD_ROWS -> "200",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760")

  /** Every node of the executed plan: through AQE, stages and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Jobs `body` starts, counted through a job group. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val group = s"bcbuild-${System.nanoTime()}"
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val events = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        events.incrementAndGet()
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          seen.incrementAndGet()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, group)
    try {
      val r = body
      var last = -1L
      while (last != events.get()) { last = events.get(); Thread.sleep(300) }
      (r, seen.get())
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  /** Sorted rows of `df`, collected from `df` itself so that its own
   *  executed plan is the one the assertions read. */
  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).sorted.toSeq

  /** Rows and job count rule off, then rule on; the rule-on frame. */
  private def offOn(sql: String): (Seq[String], Int, Seq[String], Int, DataFrame) = {
    val (off, offJobs) = withConf(RptConf.ENABLED -> "false") {
      jobsOf(rowsOf(spark.sql(sql)))
    }
    val df = spark.sql(sql)
    val (on, onJobs) = jobsOf(rowsOf(df))
    (off, offJobs, on, onJobs, df)
  }

  private def builds(df: DataFrame) = RptProfiling.buildStats(df.queryExecution)

  /** The key columns of the (single) bloom build, in hash order. */
  private def bloomKeyNames(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery => s.plan
    })).flatMap(_.expressions.flatMap(_.collect {
      case BloomFilterAggregate(XxHash64(keys, _), _, _, _, _) =>
        keys.map(_.references.head.name)
    })).head

  private val reuseShapes = Seq(
    "bigint key" -> "b.dk = d.k",
    "int key (packed long)" -> "b.dki = d.ki",
    "two int keys (packed long)" -> "b.dki = d.ki AND b.dkj = d.kj",
    "bigint and string keys" -> "b.dk = d.k AND b.dks = d.ks")

  reuseShapes.foreach { case (label, on) =>
    test(s"reused build ($label): no job, only the broadcast stage, " +
        "no false negatives") {
      // d's broadcast joins (f ⋈ b); the probe sits inside b's broadcast,
      // so no join above it enforces d — the build is reused, not dropped
      val sql =
        s"""SELECT count(*) AS n, sum(f.fid) AS s
           |FROM bc_f f JOIN bc_b b ON f.b = b.id JOIN bc_d d ON $on
           |WHERE d.flag = 1""".stripMargin
      withConf(onlyDimBuilds: _*) {
        val (off, offJobs, rows, onJobs, df) = offOn(sql)
        assert(rows == off)
        val bs = builds(df)
        assert(bs.map(_.source) == Seq(RptProfiling.BuildStat.Broadcast),
          df.queryExecution.executedPlan)
        assert(onJobs == offJobs, s"rule on ran $onJobs jobs, off $offJobs")
        val exec = nodes(df.queryExecution.executedPlan).collect {
          case e: BroadcastBloomBuildExec => e
        }.head
        val leaves = (exec.child.asInstanceOf[AdaptiveSparkPlanExec].executedPlan match {
          case r: ResultQueryStageExec => r.plan
          case p => p
        }).collectLeaves()
        assert(leaves.size == 1 && leaves.head.isInstanceOf[BroadcastQueryStageExec],
          leaves)
        // every flagged non-null dim key is in the filter
        val bytes = exec.executeCollect().head.getBinary(0)
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        val keys = bloomKeyNames(df)
        val hashes = spark.sql(
          s"""SELECT xxhash64(${keys.mkString(", ")}) FROM bc_d
             |WHERE flag = 1 AND ${keys.map(_ + " IS NOT NULL").mkString(" AND ")}
             |""".stripMargin).collect().map(_.getLong(0))
        assert(hashes.length == 34)
        assert(hashes.forall(bf.mightContainLong), s"false negatives over $keys")
      }
    }
  }

  test("12a shape: the probes the fact's own broadcast joins enforce are " +
      "dropped and no build runs") {
    val sql =
      """SELECT count(*) AS n, sum(f.fid) AS s
        |FROM bc_f f JOIN bc_d d ON f.a = d.k JOIN bc_b b ON f.b = b.id
        |WHERE d.flag = 1 AND b.dk < 50""".stripMargin
    withConf(onlyDimBuilds :+ (RptConf.MAX_BUILD_ROWS -> "1000"): _*) {
      val (off, offJobs, rows, onJobs, df) = offOn(sql)
      assert(rows == off)
      assert("might_contain".r.findAllIn(
        df.queryExecution.optimizedPlan.toString).size == 2)
      val probes = nodes(df.queryExecution.executedPlan).collect {
        case f: FilterExec if f.condition.exists {
          case _: BloomFilterMightContain => true
          case _ => false
        } => f
      }
      assert(probes.isEmpty, df.queryExecution.executedPlan)
      assert(ResolveBroadcastBuilds.droppedProbes(
        df.queryExecution.executedPlan) == 2)
      assert(builds(df).isEmpty)
      assert(onJobs == offJobs, s"rule on ran $onJobs jobs, off $offJobs")
      assert(RptProfiling.report(df).contains("2 dropped probes"))
    }
  }

  test("a build unit with semi-join reducers keeps its aggregate build") {
    // b's build carries d's reduction (b ⋉ d): no broadcast holds that
    // relation, so it stays an aggregate next to d's reused build (forward
    // pass only: a backward probe inside d's broadcast would make that
    // broadcast unmatchable too)
    val sql =
      """SELECT count(*) AS n
        |FROM bc_f f JOIN bc_b b ON f.b = b.id JOIN bc_d d ON b.dk = d.k
        |WHERE d.flag = 1""".stripMargin
    withConf(onlyDimBuilds ++ Seq(RptConf.MAX_BUILD_ROWS -> "1000",
        RptConf.PASS_MODE -> "forwardOnly"): _*) {
      val (off, _, rows, _, df) = offOn(sql)
      assert(rows == off)
      val sources = builds(df).map(_.source)
      assert(sources.sorted == Seq(RptProfiling.BuildStat.Aggregate,
        RptProfiling.BuildStat.Broadcast), df.queryExecution.executedPlan)
    }
  }

  test("a null-aware anti-join broadcast is never matched") {
    val sql =
      """SELECT count(*) AS n
        |FROM bc_f f JOIN bc_b b ON f.b = b.id JOIN bc_d d ON b.dk = d.k
        |WHERE d.flag = 1 AND f.a NOT IN (SELECT k FROM bc_d WHERE flag = 1)
        |""".stripMargin
    withConf(onlyDimBuilds: _*) {
      val (off, _, rows, _, df) = offOn(sql)
      assert(rows == off)
      val initial = spark.sql(sql).queryExecution.executedPlan
        .asInstanceOf[AdaptiveSparkPlanExec].executedPlan
      val naaj = initial.collect {
        case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
      }
      assert(naaj.size == 1, initial)
      // the same broadcast child reads as a unit; only its mode excludes it
      val exchange = naaj.head.right.asInstanceOf[BroadcastExchangeExec]
      assert(ResolveBroadcastBuilds.unitOf(exchange.child).isDefined)
      assert(ResolveBroadcastBuilds.broadcastOf(naaj.head).isEmpty)
    }
  }

  test("shuffle regime (threshold -1): every build stays an aggregate") {
    val sql =
      """SELECT count(*) AS n
        |FROM bc_f f JOIN bc_d d ON f.a = d.k JOIN bc_b b ON f.b = b.id
        |WHERE d.flag = 1 AND b.dk < 50""".stripMargin
    withConf(onlyDimBuilds ++ Seq(RptConf.MAX_BUILD_ROWS -> "1000",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"): _*) {
      val (off, _, rows, _, df) = offOn(sql)
      assert(rows == off)
      assert(builds(df).map(_.source) == Seq.fill(2)(RptProfiling.BuildStat.Aggregate))
      assert(ResolveBroadcastBuilds.droppedProbes(df.queryExecution.executedPlan) == 0)
    }
  }

  test("JOB topologies: rule on == rule off in both join regimes") {
    val tbls = JobTopologies.tableNames
      .map(n => n -> spark.read.parquet(s"$sfDir/$n.parquet")).toMap
    val gates = Seq(RptConf.SKIP_BROADCASTABLE_BUILDS -> "false",
      RptConf.FILTERED_BUILDS_ONLY -> "false")
    Seq("10485760", "-1").foreach { threshold =>
      var dropped = 0
      var reused = 0
      val failures = collection.mutable.ArrayBuffer[String]()
      withConf(gates :+ ("spark.sql.autoBroadcastJoinThreshold" -> threshold): _*) {
        JobTopologies.all.foreach { t =>
          val off = withConf(RptConf.ENABLED -> "false")(
            rowsOf(JobTopologies.build(t, tbls)))
          val (on, df) = withConf(RptConf.ENABLED -> "true") {
            val d = JobTopologies.build(t, tbls)
            (rowsOf(d), d)
          }
          if (on != off) failures += s"q${t.q}"
          dropped += ResolveBroadcastBuilds.droppedProbes(df.queryExecution.executedPlan)
          reused += builds(df).count(_.source == RptProfiling.BuildStat.Broadcast)
        }
      }
      assert(failures.isEmpty, s"threshold $threshold: results changed in $failures")
      info(s"threshold $threshold: $dropped probes dropped, $reused builds reused")
      if (threshold == "-1") assert(dropped == 0 && reused == 0)
      else assert(dropped + reused > 0, "the broadcast regime resolved no build")
    }
  }
}
