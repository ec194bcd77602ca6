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

  // "Aa" and "BB" have equal String hashCodes, so two listings that differ
  // only there hash alike: a hash-keyed footer cache would hand one file
  // set the other's row counts and column ranges
  test("footer caches key a file set by its full listing, not a hash") {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.spark.sql.execution.datasources.FileStatusWithMetadata
    def listing(dir: String) = Seq(FileStatusWithMetadata(new FileStatus(
      100L, false, 1, 1L, 0L, new Path(s"file:/data/$dir/part-0.parquet"))))
    assert("file:/data/Aa/part-0.parquet#100".hashCode ===
      "file:/data/BB/part-0.parquet#100".hashCode)
    assert(ParquetRowCounts.fileSetKey(listing("Aa")) !==
      ParquetRowCounts.fileSetKey(listing("BB")))
  }

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

  test("v2 footer reads use the relation's own session, not the active one") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft_footer_v2")
    def v2Range(session: org.apache.spark.sql.SparkSession, dir: String)
        : Option[(Double, Double)] = {
      val path = root.resolve(dir).toString
      spark.range(0, 100).selectExpr("CAST(id AS INT) AS v").coalesce(1)
        .write.parquet(path)
      // the table lists its files here, before any conf below applies
      val plan = session.read.format("graft-parquet").load(path)
        .queryExecution.analyzed
      if (session ne spark) {
        // this session can no longer open local files
        session.conf.set("fs.file.impl", "graft.NoSuchFileSystem")
        session.conf.set("fs.file.impl.disable.cache", "true")
      }
      FooterStats.columnRange(plan, plan.output.head.asInstanceOf[
        org.apache.spark.sql.catalyst.expressions.AttributeReference])
    }
    try {
      assert(v2Range(spark, "own") === Some((0.0, 99.0)))
      assert(v2Range(spark.newSession(), "other") === None,
        "footers were read with the active session's conf")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }
}
