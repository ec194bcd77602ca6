package graft.rpt

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, LocalFileSystem, Path}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.graft.sources.GraftParquetScan
import org.apache.spark.sql.types.LongType

import graft.SparkTestBase

/** The local file system, counting per file name the opens made from
  * [[ParquetFooters]] (other readers of the same files are not counted).
  * Set through `fs.file.impl`, with `fs.file.impl.disable.cache`. */
class FooterCountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (Thread.currentThread.getStackTrace
        .exists(_.getClassName.startsWith(FooterCountingFileSystem.Reader))) {
      FooterCountingFileSystem.opens
        .computeIfAbsent(f.getName, _ => new AtomicInteger).incrementAndGet()
    }
    super.open(f, bufferSize)
  }
}

object FooterCountingFileSystem {
  private val Reader = ParquetFooters.getClass.getName.stripSuffix("$")
  val opens = new ConcurrentHashMap[String, AtomicInteger]()
  def of(name: String): Int = Option(opens.get(name)).fold(0)(_.get)
}

/**
 * [[ParquetFooters]] on a table of more than [[ParquetFooters.MaxSampled]]
 * files: planner estimates read the first 8 files by path (row counts
 * extrapolate the rest by byte share, ranges come from those 8 alone),
 * and planning plus the `graft-parquet` scan's runtime file pruning open
 * each footer once.
 */
class ParquetFootersSuite extends SparkTestBase {

  /** A fresh directory of 12 parquet files, file i holding k in
    * [100 i, 100 i + 100), so path order is k order; the last 4 carry 16x
    * wider payloads, so the unread tail's bytes per row differ from the
    * sample's. */
  private def withManyFiles(body: (String, Seq[File]) => Unit): Unit = {
    val root = Files.createTempDirectory("graft_footers_")
    val dir = root.resolve("t").toString
    try {
      spark.range(0, 1200, 1, 12).selectExpr("id AS k",
        "CAST(id % 7 AS INT) AS v",
        "substring(sha2(CAST(id AS STRING), 256), 1, " +
          "IF(id >= 800, 64, 4)) AS payload")
        .write.option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false").parquet(dir)
      val files = new File(dir).listFiles().toSeq
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getPath)
      assert(files.size === 12)
      body(dir, files)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  test("row counts of a >8-file table extrapolate the first 8 by byte share") {
    withManyFiles { (dir, files) =>
      val head = files.take(ParquetFooters.MaxSampled)
      val headRows = spark.read.parquet(head.map(_.getPath): _*).count()
      val expected = math.round(headRows.toDouble *
        files.map(_.length).sum / head.map(_.length).sum)
      assert(expected > 1200L, "the wider tail should read as more rows")
      val leaf = spark.read.parquet(dir).queryExecution.optimizedPlan
        .collectLeaves().head
      assert(ParquetFooters.rowCount(leaf) === Some(expected))
    }
  }

  test("footer ranges of a >8-file table come from the first 8 files") {
    withManyFiles { (dir, _) =>
      val plan = spark.read.parquet(dir).queryExecution.analyzed
      val k = plan.output.find(_.name == "k").get
        .asInstanceOf[AttributeReference]
      // the first 8 files hold k in [0, 800); the table runs to 1199
      assert(FooterStats.columnRange(plan, k) === Some((0.0, 799.0)))
    }
  }

  test("planning a join, then a runtime-pruned graft-parquet scan, " +
      "opens each footer once") {
    withManyFiles { (dir, files) =>
      val names = files.map(_.getName)
      def opens = names.map(FooterCountingFileSystem.of)
      withConf("fs.file.impl" -> classOf[FooterCountingFileSystem].getName,
        "fs.file.impl.disable.cache" -> "true",
        RptConf.ENABLED -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        spark.read.parquet(dir).createOrReplaceTempView("graft_many")
        try {
          // row count, keep estimate and BF size of the filtered unit
          RptTestHelpers.buildTables(spark,
            """SELECT count(*) FROM lineitem
              |JOIN graft_many ON l_orderkey = k
              |JOIN orders ON l_orderkey = o_orderkey
              |WHERE v < 3""".stripMargin)
        } finally spark.catalog.dropTempView("graft_many")
        assert(opens === Seq.fill(8)(1) ++ Seq.fill(4)(0),
          "planning should read each sampled footer once")

        val scan = spark.read.format("graft-parquet").load(dir)
          .queryExecution.optimizedPlan
          .collectFirst { case r: DataSourceV2ScanRelation => r.scan }.get
          .asInstanceOf[GraftParquetScan]
        scan.filter(Array(
          GraftParquetScan.inPredicate("k", LongType, Seq(5L, 1100L))))
        scan.toBatch.planInputPartitions()
        assert(scan.lastFilePrune === Some((12, 2)))
        assert(opens === Seq.fill(12)(1),
          "the scan should reuse the planner's footers and read the rest once")
      }
    }
  }
}
