package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession

/**
 * Scale a fixture directory N× for BENCHMARKING (correctness stays on the
 * driver-generated fixtures): each scaled table is the union of N key-
 * shifted copies, so every foreign-key relationship of the source holds in
 * every copy and join/dedup workloads keep their shape. Fixed-size
 * dimension tables (region, nation — constant in TPC-H at every SF) are
 * copied unchanged. Text/embedding payloads are copied verbatim: copies
 * are exact near-duplicates, the (realistic, harder) crawl-corpus regime
 * for the dedup operators.
 *
 * Usage: runMain graft.tools.ScaleFixtures <srcDir> <dstDir> <factor>
 *          [table ...]   (default: every fixture table)
 */
object ScaleFixtures {

  // far above any fixture key range (sf1 orderkeys stay < 10^7)
  private val STEP = 100000000L

  private def scaled(df: DataFrame, factor: Int, keys: Seq[String]): DataFrame = {
    val copies = explode(sequence(lit(0L), lit(factor - 1L))).as("graft_copy")
    val withCopy = df.select(col("*"), copies)
    keys.foldLeft(withCopy) { (acc, k) =>
      // cast back so scaled fixtures keep the source schema exactly
      // (addition with the long copy index would widen INT keys to BIGINT)
      val dt = df.schema(k).dataType
      if (dt == org.apache.spark.sql.types.IntegerType) {
        // guard on the ACTUAL max value, not just the step arithmetic: a
        // wrapped key after the narrowing cast would silently corrupt
        // every foreign-key relationship of the scaled copy
        val maxKey = df.agg(max(col(k).cast("long"))).head.getLong(0)
        require(maxKey + (factor - 1).toLong * STEP <= Int.MaxValue,
          s"factor $factor overflows INT key $k (max $maxKey, step $STEP)")
      }
      acc.withColumn(k, (col(k) + col("graft_copy") * STEP).cast(dt))
    }.drop("graft_copy")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "args: <srcDir> <dstDir> <factor> [table ...]")
    val Array(src, dst, factorS) = args.take(3)
    val only = args.drop(3).toSet // empty = all tables
    val factor = factorS.toInt
    val spark = GraftSession.build(appName = "graft-scale-fixtures")

    // a typo'd table name must fail loudly, not no-op with exit 0 (stale
    // fixtures would silently feed the next bench run)
    val shiftKeys: Map[String, Seq[String]] = Map(
      "region" -> Nil,
      "nation" -> Nil,
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))
    val unknown = only.diff(shiftKeys.keySet)
    require(unknown.isEmpty, s"unknown table(s): ${unknown.mkString(", ")}; " +
      s"known: ${shiftKeys.keys.toSeq.sorted.mkString(", ")}")

    shiftKeys.filter(t => only.isEmpty || only(t._1)).foreach {
      case (table, keys) =>
      val df = spark.read.parquet(s"$src/$table.parquet")
      val out =
        if (keys.isEmpty) df else scaled(df, factor, keys)
      // one file per ~128MB keeps the scan parallelism of the source dir:
      // rows-per-128MB derived from the source table's on-disk density.
      // Row count comes from parquet FOOTERS (no table scan — this tool's
      // whole point is large fixtures)
      val srcBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val srcRows = math.max(1L,
        df.queryExecution.optimizedPlan.collectLeaves().headOption
          .flatMap(graft.rpt.ParquetFooters.rowCount)
          .getOrElse(df.count()))
      val recordsPerFile = math.max(1L,
        (BigDecimal(srcRows) * 128L * 1024 * 1024 /
          BigDecimal(srcBytes.max(BigInt(1)))).toLong)
      out.write.mode("overwrite")
        .option("maxRecordsPerFile", recordsPerFile)
        .parquet(s"$dst/$table.parquet")
      println(s"scaled $table x${if (keys.isEmpty) 1 else factor}")
    }
    spark.stop()
  }
}
