package graft.rpt

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.ScalarSubquery
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.datasources.FilePartition

/** Shared helpers for the RPT gate suites. */
object RptTestHelpers {

  /** Reads every input partition of `scan` through the scan's own reader
    * factory, as its tasks would (call after the runtime `filter()`).
    * Returns (rows read, rows held by the files the scan kept). */
  def readBack(spark: SparkSession, scan: Scan): (Long, Long) = {
    val batch = scan.toBatch
    val parts = batch.planInputPartitions()
    val factory = batch.createReaderFactory()
    val read = parts.map { p =>
      var n = 0L
      if (factory.supportColumnarReads(p)) {
        val r = factory.createColumnarReader(p)
        try while (r.next()) n += r.get().numRows() finally r.close()
      } else {
        val r = factory.createReader(p)
        try while (r.next()) n += 1 finally r.close()
      }
      n
    }.sum
    val files = parts.toSeq.flatMap(
      _.asInstanceOf[FilePartition].files.map(_.filePath.toString))
    (read, if (files.isEmpty) 0L else spark.read.parquet(files: _*).count())
  }

  /** Which table does each injected build subquery BUILD over? The build
    * unit is the LEFT-MOST leaf of the subquery plan (other leaves are its
    * semi-join reducers); classified by the TPC-H column-name prefix of
    * the leaf's first output column. */
  def buildTables(spark: SparkSession, sql: String): Set[String] = {
    val out = collection.mutable.Set[String]()
    spark.sql(sql).queryExecution.optimizedPlan.foreach(
      _.expressions.foreach(_.foreach {
        case ss: ScalarSubquery
            if ss.plan.toString.contains("graft_rpt_bf") =>
          ss.plan.collectLeaves().headOption.foreach { leaf =>
            leaf.output.headOption.map(_.name.take(2)).foreach {
              case "s_" => out += "supplier"
              case "p_" => out += "part"
              case "o_" => out += "orders"
              case "l_" => out += "lineitem"
              case _ => ()
            }
          }
        case _ => ()
      }))
    out.toSet
  }
}
