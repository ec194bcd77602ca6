package graft.rpt

import graft.SparkTestBase
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/**
 * Property test promised by SURVEY.md §5: result-set invariance of the
 * predicate-transfer rewrite on randomized star/chain join instances —
 * random table sizes, key ranges (forcing varying match rates and empty
 * builds), filters, and join shapes, each compared rule-on vs rule-off
 * under both heuristics.
 */
class TransferPropertySuite extends SparkTestBase {

  private case class Instance(
      factRows: Int, dimRows: Seq[Int], keyRange: Int,
      filterBelow: Int, chain: Boolean) {
    override def toString: String =
      s"fact=$factRows dims=$dimRows keys<$keyRange filter<$filterBelow chain=$chain"
  }

  private val genInstance: Gen[Instance] = for {
    factRows <- Gen.choose(0, 400)
    nDims <- Gen.choose(2, 4)
    dimRows <- Gen.listOfN(nDims, Gen.choose(0, 60))
    keyRange <- Gen.oneOf(3, 10, 50, 200) // small range -> dup keys & skew
    filterBelow <- Gen.choose(1, 200)
    chain <- Gen.oneOf(true, false)
  } yield Instance(factRows, dimRows, keyRange, filterBelow, chain)

  /** Deterministic pseudo-random tables from the instance parameters —
   *  deterministic so failures replay exactly. */
  private def buildViews(inst: Instance): Unit = {
    spark.sql(
      s"""SELECT id,
         |       CAST(hash(id, 1) % ${inst.keyRange} AS INT) AS k0,
         |       CAST(hash(id, 2) % ${inst.keyRange} AS INT) AS k1,
         |       CAST(hash(id, 3) % ${inst.keyRange} AS INT) AS k2,
         |       CAST(abs(hash(id, 9)) % 1000 AS INT) AS v
         |FROM range(${inst.factRows})""".stripMargin)
      .createOrReplaceTempView("p_fact")
    inst.dimRows.zipWithIndex.foreach { case (rows, i) =>
      spark.sql(
        s"""SELECT CAST(hash(id, ${100 + i}) % ${inst.keyRange} AS INT) AS dk$i,
           |       CAST(abs(hash(id, ${200 + i})) % 1000 AS INT) AS dv$i
           |FROM range($rows)""".stripMargin)
        .createOrReplaceTempView(s"p_dim$i")
    }
  }

  private def querySql(inst: Instance): String = {
    val n = inst.dimRows.size
    if (inst.chain) {
      // fact -> dim0 -> dim1 -> ... (each dim joins the previous dim's value)
      val joins = (0 until n).map { i =>
        if (i == 0) s"JOIN p_dim0 ON p_fact.k0 = p_dim0.dk0"
        else s"JOIN p_dim$i ON CAST(p_dim${i - 1}.dv${i - 1} % ${inst.keyRange} AS INT) = p_dim$i.dk$i"
      }.mkString("\n")
      s"""SELECT count(*) AS n, sum(v) AS sv, min(dv0) AS m0
         |FROM p_fact
         |$joins
         |WHERE p_fact.v < ${inst.filterBelow}""".stripMargin
    } else {
      // star: every dim joins a fact key (cycling over k0..k2)
      val joins = (0 until n).map { i =>
        s"JOIN p_dim$i ON p_fact.k${i % 3} = p_dim$i.dk$i"
      }.mkString("\n")
      s"""SELECT count(*) AS n, sum(v) AS sv, min(dv0) AS m0
         |FROM p_fact
         |$joins
         |WHERE p_fact.v < ${inst.filterBelow}""".stripMargin
    }
  }

  // GRAFT_PROP_N ups the sweep depth for one-off deep runs
  private val nInstances =
    sys.env.getOrElse("GRAFT_PROP_N", "25").toInt

  // reference-faithful gate settings: the payoff gates (broadcastable
  // builds, filtered-builds-only, probe floor) would suppress every
  // transfer on these tiny in-memory instances and make the sweep vacuous
  private val openGates = Seq(
    RptConf.MIN_PROBE_ROWS -> "0",
    RptConf.MIN_BUILD_PROBE_RATIO -> "0",
    RptConf.FILTERED_BUILDS_ONLY -> "false",
    RptConf.SKIP_BROADCASTABLE_BUILDS -> "false")

  test("rewrite preserves results on random join instances (both heuristics)") {
    val params = Gen.Parameters.default
    val instances = (1 to nInstances).flatMap(i =>
      genInstance(params, Seed(i.toLong)))
    assert(instances.size >= 20, "generator failed to produce instances")
    var rewritten = 0
    instances.foreach { inst =>
      buildViews(inst)
      val sql = querySql(inst)
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      val mst = withConf(openGates :+ (RptConf.ENABLED -> "true") :+
        (RptConf.HEURISTIC -> "largestRoot"): _*)(fingerprint(spark.sql(sql)))
      val dag = withConf(openGates :+ (RptConf.ENABLED -> "true") :+
        (RptConf.HEURISTIC -> "joinOrder"): _*)(fingerprint(spark.sql(sql)))
      assert(mst == off, s"largestRoot changed results for: $inst\n$sql")
      assert(dag == off, s"joinOrder changed results for: $inst\n$sql")
      withConf(openGates :+ (RptConf.ENABLED -> "true"): _*) {
        if (spark.sql(sql).queryExecution.optimizedPlan.toString
            .contains("might_contain")) {
          rewritten += 1
        }
      }
    }
    // non-vacuity: the sweep must actually exercise the rewrite
    assert(rewritten * 2 >= instances.size,
      s"only $rewritten/${instances.size} instances were rewritten — " +
        "gates suppressed the sweep")
  }

  test("rewrite preserves results on barrier shapes under two-phase variants") {
    // barrier units (union / global aggregate / window) with a JOIN nested
    // INSIDE them — the shape where splice() must reach units inside a
    // barrier subtree. Swept with the default bloom probes and with the
    // min/max subquery bounds (filterType=all) riding along.
    val params = Gen.Parameters.default
    val instances = (200 to 209).flatMap(i => genInstance(params, Seed(i.toLong)))
      .filter(_.dimRows.size >= 3)
    assert(instances.size >= 5, "generator starved the barrier sweep")
    val barriers = Seq("union", "agg", "window")
    val variants: Seq[(String, Seq[(String, String)])] = Seq(
      "plain" -> Seq.empty,
      "minmax" -> Seq(RptConf.FILTER_TYPE -> "all"))
    instances.zipWithIndex.foreach { case (inst, idx) =>
      buildViews(inst)
      val r = inst.keyRange
      val nested =
        s"""p_dim0 JOIN p_dim1 ON CAST(p_dim0.dv0 % $r AS INT) = p_dim1.dk1
           |WHERE p_dim1.dv1 < ${inst.filterBelow}""".stripMargin
      val inner = barriers(idx % barriers.size) match {
        case "union" =>
          s"""SELECT p_dim0.dk0 AS bk FROM $nested
             |UNION ALL SELECT dk2 AS bk FROM p_dim2""".stripMargin
        case "agg" =>
          s"SELECT max(p_dim0.dk0) AS bk FROM $nested"
        case _ =>
          s"""SELECT bk FROM (
             |  SELECT p_dim0.dk0 AS bk,
             |         row_number() OVER (PARTITION BY p_dim0.dk0
             |                            ORDER BY p_dim1.dv1) AS rn
             |  FROM $nested) w WHERE rn = 1""".stripMargin
      }
      val sql =
        s"""SELECT count(*) AS n, sum(v) AS sv
           |FROM p_fact JOIN ($inner) u ON p_fact.k0 = u.bk
           |WHERE p_fact.v < ${inst.filterBelow}""".stripMargin
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      variants.foreach { case (vname, confs) =>
        val on = withConf(openGates ++ confs :+
          (RptConf.ENABLED -> "true"): _*)(fingerprint(spark.sql(sql)))
        assert(on == off,
          s"variant $vname changed results for: $inst barrier=${barriers(idx % barriers.size)}\n$sql")
      }
    }
  }

  test("rewrite preserves results with minmax and forwardOnly variants") {
    val params = Gen.Parameters.default
    val instances = (100 to 110).flatMap(i => genInstance(params, Seed(i.toLong)))
    instances.foreach { inst =>
      buildViews(inst)
      val sql = querySql(inst)
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(spark.sql(sql)))
      val mm = withConf(openGates :+ (RptConf.ENABLED -> "true") :+
        (RptConf.FILTER_TYPE -> "all"): _*)(fingerprint(spark.sql(sql)))
      val fwd = withConf(openGates :+ (RptConf.ENABLED -> "true") :+
        (RptConf.PASS_MODE -> "forwardOnly"): _*)(fingerprint(spark.sql(sql)))
      assert(mm == off, s"filterType=all changed results for: $inst")
      assert(fwd == off, s"forwardOnly changed results for: $inst")
    }
  }
}
