package graft.rpt

import graft.SparkTestBase

/**
 * Footer-stats path of the keep-fraction build gate: on the DEFAULT path
 * (no CBO stats) a weakly-selective range build
 * stands down from the parquet footer min/max uniform estimate alone —
 * zero planning-time execution. Also pins the one-sidedness contract: any
 * conjunct the footers cannot estimate (equality, LIKE) blocks the
 * stand-down, and the timestamp-unit normalization (fixture timestamps
 * are parquet MILLIS, Catalyst literals MICROS — a factor slip of 1000
 * flips both date assertions).
 */
class FooterGateSuite extends SparkTestBase {

  private def buildTables(sql: String): Set[String] =
    RptTestHelpers.buildTables(spark, sql)

  // sf0.001 supplier acctbal spans [537, 6035]: `> 0` keeps every row,
  // and the uniform estimate sees it (clamp to 1.0 >= 0.8)
  private val weak =
    """SELECT count(*) AS n FROM lineitem
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN orders ON l_orderkey = o_orderkey
      |WHERE s_acctbal > 0 AND o_totalprice < 20000""".stripMargin

  test("weak range build stands down from footer stats on the default path") {
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val builds = buildTables(weak)
      assert(!builds.contains("supplier"),
        s"footer-estimated weak supplier build not gated (builds: $builds)")
      assert(builds.contains("orders"),
        s"selective orders build lost (builds: $builds)")
      val on = fingerprint(spark.sql(weak))
      val off = withConf(RptConf.ENABLED -> "false")(
        fingerprint(spark.sql(weak)))
      assert(on === off)
    }
  }

  test("footerKeepGate=false restores the un-gated plan") {
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      RptConf.FOOTER_KEEP_GATE -> "false") {
      assert(buildTables(weak).contains("supplier"),
        "gate fired with footerKeepGate off")
    }
  }

  test("selective ranges keep transferring") {
    // p_size < 10 over [1, 50]: estimate ~0.18, well under the 0.8 cap
    val strong =
      """SELECT count(*) AS n FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE p_size < 10""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      assert(buildTables(strong).contains("part"),
        "selective part build lost its transfer to the footer gate")
    }
  }

  test("an unestimable conjunct blocks the stand-down") {
    // the weak range alone would gate; the equality conjunct carries
    // selectivity footers can't see, so the estimate must abstain
    val mixed =
      """SELECT count(*) AS n FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE s_acctbal > 0 AND s_name = 'Supplier#000000003'""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val builds = buildTables(mixed)
      assert(builds.contains("supplier"),
        s"equality-carrying filter wrongly gated (builds: $builds)")
    }
  }

  test("timestamp ranges normalize parquet MILLIS to Catalyst MICROS") {
    // orders span 1995-01-01..2001-08-01 (~2404 days)
    def q(pred: String): String =
      s"""SELECT count(*) AS n FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE $pred""".stripMargin
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // keeps ~94% -> gated. A ms/us factor slip makes the literal look
      // far beyond max -> estimate clamps to 0 -> this assertion fails.
      val weakDate = q("o_orderdate >= TIMESTAMP '1995-06-01 00:00:00'")
      assert(!buildTables(weakDate).contains("orders"),
        "weak date-range build not gated — timestamp units off?")
      // keeps ~9% -> must still transfer. The inverse slip direction
      // (literal looks far below min -> estimate clamps to 1) fails here.
      val tightDate = q("o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'")
      assert(buildTables(tightDate).contains("orders"),
        "selective date-range build lost its transfer")
      val on = fingerprint(spark.sql(tightDate))
      val off = withConf(RptConf.ENABLED -> "false")(
        fingerprint(spark.sql(tightDate)))
      assert(on === off)
    }
  }
}
