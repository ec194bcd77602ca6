package graft.rpt

import java.util.concurrent.ConcurrentHashMap

import scala.util.Try

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/**
 * Row counts for parquet-backed leaves from file-footer metadata — the
 * replacement for the crude `sizeInBytes / 32` proxy the rule otherwise
 * falls back to when CBO stats are absent (the common case for
 * path-based reads). The reference gets `estimated_cardinality` for free
 * from its host (table_manager.cpp:64-69); parquet footers are the
 * Spark-native equivalent for scans.
 *
 * Bounded for 100 TB tables: reads at most [[MaxFooters]] footers per
 * relation (a few KB of metadata each) and extrapolates the rest by byte
 * size; results are cached by (paths, sizes) so repeated planning of the
 * same data costs nothing. Any IO failure degrades to None (caller falls
 * back to the size proxy), never to a planning error.
 */
object ParquetRowCounts {

  private val MaxFooters = 8
  private val cache = new ConcurrentHashMap[Seq[(String, Long)], Option[Long]]()

  /** Cache key of a file set: every (path, length), sorted. The full list,
    * not a hash of it — two sets whose listings hash alike must never
    * share footer-derived numbers. */
  private[rpt] def fileSetKey(files: Seq[FileStatusWithMetadata])
      : Seq[(String, Long)] =
    files.map(f => (f.getPath.toString, f.getLen)).sorted

  /** Visible for tests/ops: drop cached counts (e.g. after overwriting a
    * fixture in place with the same file sizes — unlikely, but possible). */
  def invalidate(): Unit = cache.clear()

  /** Estimated (exact if few files) row count of a parquet-backed leaf. */
  def rowCount(plan: LogicalPlan): Option[Long] = plan match {
    case lr: LogicalRelation =>
      lr.relation match {
        case fs: HadoopFsRelation
            if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
          val files = Try(fs.location.listFiles(Nil, Nil).flatMap(_.files))
            .getOrElse(Seq.empty)
            .filter(_.getLen > 0)
          if (files.isEmpty) return None
          cache.computeIfAbsent(fileSetKey(files), _ => Try {
            val conf = fs.sparkSession.sessionState.newHadoopConf()
            val sample = files.sortBy(_.getPath.toString).take(MaxFooters)
            val sampleRows = sample.map { f =>
              val reader = ParquetFileReader.open(
                HadoopInputFile.fromPath(f.getPath, conf))
              try reader.getRecordCount finally reader.close()
            }.sum
            if (sample.size == files.size) sampleRows
            else {
              // extrapolate the unread tail by byte share
              val sampleBytes = math.max(1L, sample.map(_.getLen).sum)
              val totalBytes = files.map(_.getLen).sum
              math.round(sampleRows.toDouble * totalBytes / sampleBytes)
            }
          }.toOption.filter(_ >= 0))
        case _ => None
      }
    case _ => None
  }
}
