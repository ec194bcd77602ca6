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
 * flips both date assertions). The footer cache keeps each file set's
 * own numbers, reads through the relation's session and keeps no failed
 * read.
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

  test("a weak range footers cannot price keeps the un-gated plan") {
    // the same range over an expression of the column: the estimate
    // abstains, so the supplier build stays
    withConf(RptConf.ENABLED -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val unpriced = weak.replace("s_acctbal > 0", "s_acctbal + 0 > 0")
      assert(buildTables(unpriced).contains("supplier"),
        "gate fired on a filter the footer estimate cannot price")
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

  // "Aa" and "BB" have equal String hashCodes, so two listings that differ
  // only there hash alike: a footer cache keyed by a hash of the listing
  // would hand one file set the other's row counts and column ranges
  test("hash-colliding directories keep their own footer ranges") {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("graft_footer_key")
    // one uncompressed, dictionary-free int file named part-0.parquet in
    // `dir`: same name and length for any 100 consecutive values
    def write(dir: String, from: Long): Path = {
      val tmp = root.resolve(dir + "_write")
      spark.range(from, from + 100).selectExpr("CAST(id AS INT) AS v")
        .coalesce(1).write.option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false").parquet(tmp.toString)
      val part = tmp.toFile.listFiles().find(_.getName.endsWith(".parquet")).get
      val dest = root.resolve(dir).resolve("part-0.parquet")
      Files.createDirectories(dest.getParent)
      Files.move(part.toPath, dest)
    }
    def range(file: Path): Option[(Double, Double)] = {
      val plan = spark.read.parquet(file.getParent.toString)
        .queryExecution.analyzed
      FooterStats.columnRange(plan,
        plan.output.head.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.AttributeReference])
    }
    try {
      val aa = write("Aa", 0)
      val bb = write("BB", 1000)
      assert(Files.size(aa) === Files.size(bb))
      assert(range(aa) === Some((0.0, 99.0)))
      assert(range(bb) === Some((1000.0, 1099.0)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  /** A fresh directory holding `v` = 0..99 as one INT parquet file. */
  private def hundredRows(root: java.nio.file.Path, dir: String): String = {
    val path = root.resolve(dir).toString
    spark.range(0, 100).selectExpr("CAST(id AS INT) AS v").coalesce(1)
      .write.parquet(path)
    path
  }

  /** `session` can no longer open local files. */
  private def breakLocalFiles(session: org.apache.spark.sql.SparkSession)
      : Unit = {
    session.conf.set("fs.file.impl", "graft.NoSuchFileSystem")
    session.conf.set("fs.file.impl.disable.cache", "true")
  }

  // each case reads the SAME directory through a session that cannot open
  // it, then through one that can: the failed read must not be cached
  test("v2 footer reads use the relation's own session, not the active one") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_footer_v2")
    def range(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      FooterStats.columnRange(plan, plan.output.head.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.AttributeReference])
    try {
      val path = hundredRows(root, "t")
      val other = spark.newSession()
      // the table lists its files here, before the conf below applies
      val otherPlan = other.read.format("graft-parquet").load(path)
        .queryExecution.analyzed
      breakLocalFiles(other)
      assert(range(otherPlan) === None,
        "footers were read with the active session's conf")
      val plan = spark.read.format("graft-parquet").load(path)
        .queryExecution.analyzed
      assert(range(plan) === Some((0.0, 99.0)),
        "a failed footer read was cached")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("v1 row counts retry a footer read that failed in another session") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_footer_v1")
    try {
      val path = hundredRows(root, "t")
      val other = spark.newSession()
      val otherPlan = other.read.parquet(path).queryExecution.analyzed
      breakLocalFiles(other)
      assert(ParquetFooters.rowCount(otherPlan) === None,
        "footers were read with another session's conf")
      assert(ParquetFooters.rowCount(
        spark.read.parquet(path).queryExecution.analyzed) === Some(100L),
        "a failed footer read was cached")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
