package graft.rpt

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/**
 * The one reader of parquet footers: planner row counts ([[rowCount]]),
 * range estimates ([[FooterStats]]) and the `graft-parquet` scan's file
 * pruning. The reference gets `estimated_cardinality` from its host
 * (table_manager.cpp:64-69); footers are the Spark-native equivalent for
 * path-based reads, which otherwise fall back to a `sizeInBytes / 32` proxy.
 *
 * Each file's footer is opened once per JVM and cached by (path, length):
 * its row count and every column chunk's statistics. A failed read is not
 * cached (the next lookup retries it, whichever session asks), and no read
 * runs under a map lock. Past 2^20 cached (file, column) entries a footer
 * is read and used but not kept. Planner estimates read at most
 * [[MaxSampled]] footers per relation, the first files by path, and
 * extrapolate the rest by byte size; IO failures degrade to None.
 */
object ParquetFooters {

  /** One file's footer: its row count, and per column (dotted path) the
    * statistics of its chunks in row-group order (null where a chunk
    * carries none). */
  final case class Footer(rows: Long,
      columns: Map[String, IndexedSeq[Statistics[_]]])

  /** Footers a planner estimate reads per relation. */
  val MaxSampled = 8

  private val MaxColumnEntries = 1L << 20
  private val cache = new ConcurrentHashMap[(String, Long), Footer]()
  private val held = new AtomicLong(0L)

  /** The footer of the parquet file at `path` of `len` bytes, read with
    * `conf` on a cache miss; None when it cannot be read. */
  def footer(conf: => Configuration, path: Path, len: Long): Option[Footer] = {
    val key = (path.toString, len)
    Option(cache.get(key)).orElse(Try(read(conf, path)).toOption.map { f =>
      val n = f.columns.size
      if (!reserve(n)) f
      else Option(cache.putIfAbsent(key, f)) match {
        case Some(raced) => held.addAndGet(-n); raced
        case None => f
      }
    })
  }

  @annotation.tailrec
  private def reserve(n: Int): Boolean = {
    val h = held.get
    if (h + n > MaxColumnEntries) false
    else held.compareAndSet(h, h + n) || reserve(n)
  }

  private def read(conf: Configuration, path: Path): Footer = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      Footer(blocks.map(_.getRowCount).sum,
        blocks.flatMap(_.getColumns.asScala)
          .groupMap(_.getPath.toDotString)(_.getStatistics: Statistics[_])
          .map { case (c, st) => c -> st.toIndexedSeq })
    } finally reader.close()
  }

  /** The non-empty files of a v1 parquet relation, with the session that
    * owns it; None for any other plan. */
  def v1Files(plan: LogicalPlan)
      : Option[(Seq[FileStatusWithMetadata], SparkSession)] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        val files = Try(fs.location.listFiles(Nil, Nil).flatMap(_.files))
          .getOrElse(Seq.empty)
          .filter(_.getLen > 0)
        Some((files, fs.sparkSession))
      case _ => None
    }
    case _ => None
  }

  /** Footers of the first [[MaxSampled]] of `files` by path, read with
    * `session`'s Hadoop conf, paired with their files; None when there are
    * no files or any of them cannot be read. */
  def sampled(files: Seq[FileStatusWithMetadata], session: SparkSession)
      : Option[Seq[(FileStatusWithMetadata, Footer)]] = {
    lazy val conf = session.sessionState.newHadoopConf()
    val sample = files.sortBy(_.getPath.toString).take(MaxSampled)
    val footers = sample.iterator.map(f => footer(conf, f.getPath, f.getLen))
      .takeWhile(_.isDefined).flatten.toSeq
    if (sample.nonEmpty && footers.size == sample.size) Some(sample.zip(footers))
    else None
  }

  /** Estimated (exact if few files) row count of a v1 parquet leaf. */
  def rowCount(plan: LogicalPlan): Option[Long] =
    v1Files(plan).flatMap { case (files, session) =>
      sampled(files, session).map { sample =>
        val sampleRows = sample.map(_._2.rows).sum
        if (sample.size == files.size) sampleRows
        else {
          // extrapolate the unread tail by byte share
          val sampleBytes = math.max(1L, sample.map(_._1.getLen).sum)
          val totalBytes = files.map(_.getLen).sum
          math.round(sampleRows.toDouble * totalBytes / sampleBytes)
        }
      }
    }.filter(_ >= 0)
}
