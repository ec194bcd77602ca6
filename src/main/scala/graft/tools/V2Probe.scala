package graft.tools

import org.apache.spark.sql.DataFrame

import graft.GraftSession

/**
 * In-scan runtime transfer payoff probe for the `graft-parquet` source.
 *
 * Layout under test: the sf fixture's lineitem re-written range-clustered
 * by `l_orderkey` into ~16 files — the "key order ≈ ingest order" layout
 * every append-only fact table has at scale. Two dim-filter regimes:
 *
 *  - KEY-LOCAL (`o_orderkey` band, the recency-dim case): surviving join
 *    keys live in a narrow key range, so the runtime IN/range values
 *    dropped into the scan's `filter()` skip most FILES outright — the
 *    win stock Spark cannot get here (DPP needs partition columns +
 *    broadcast reuse).
 *  - SCATTERED (`o_totalprice` filter): surviving keys spread over the
 *    whole keyspace — file skipping cannot help, and the probe verifies
 *    the in-scan transfer does NOT regress (the BF probe still does the
 *    row-level work).
 *
 * Three configs per regime, min-of-N wall seconds, one JSON line:
 * stock parquet + RPT, graft-parquet + RPT (v2ScanFilter off),
 * graft-parquet + RPT (v2ScanFilter on). Results are asserted equal
 * across configs.
 *
 * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.V2Probe [runs]
 */
object V2Probe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = args.headOption.map(_.toInt).getOrElse(3)
    val spark = GraftSession.build(appName = "graft-v2-probe")
    import org.apache.spark.sql.graft.sources.GraftParquetScan

    // range-clustered fact copy (idempotent per sf dir), kept under the
    // repo's own benchdata — fixture dirs are read-only
    val sfName = new java.io.File(sfDir.replaceAll("/+$", "")).getName
    val factDir = s"/root/repo/benchdata/v2probe-$sfName/lineitem.parquet"
    if (!new java.io.File(factDir).exists()) {
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
      l.repartitionByRange(16, l("l_orderkey"))
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite").parquet(factDir)
    }

    val maxKey = spark.read.parquet(s"$sfDir/orders.parquet")
      .agg(org.apache.spark.sql.functions.max("o_orderkey")).head.getLong(0)
    // key-local: the top ~6% of the keyspace (the "recent dims" shape);
    // scattered: a selective price filter, uniform over keys
    val regimes = Seq(
      "keylocal" -> s"o_orderkey >= ${(maxKey * 0.94).toLong}",
      "scattered" -> "o_totalprice < 20000")

    def chain(factFormat: String, dimFilter: String): DataFrame = {
      val l = spark.read.format(factFormat).load(factDir)
      val o = spark.read.parquet(s"$sfDir/orders.parquet").where(dimFilter)
      val c = spark.read.parquet(s"$sfDir/customer.parquet")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(c("c_mktsegment"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"))
    }

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.graft.rpt.enabled", "true")
    // the gate keys on the UNFILTERED build estimate; sf1 orders exceed
    // the 1M default, so raise it for the probe (the collected IN set is
    // the FILTERED distinct keys — ~90k here)
    spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", "4000000")

    def timedMin(body: => Long): (Long, Double) = {
      var best = Double.MaxValue
      var res = 0L
      res = body // one untimed warmup (JIT + page cache), then min-of-N
      for (_ <- 1 to runs) {
        val t0 = System.nanoTime()
        res = body
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      (res, best)
    }

    val out = new StringBuilder("{")
    regimes.zipWithIndex.foreach { case ((regime, dimFilter), ri) =>
      val results = scala.collection.mutable.LinkedHashMap[String, (Long, Double)]()
      // stock parquet fact
      spark.conf.set("spark.graft.rpt.v2ScanFilter", "false")
      results("stock") = timedMin(
        chain("parquet", dimFilter).collect().map(_.getLong(1)).sum)
      // v2 source, BF probe only
      results("v2_bf_only") = timedMin(
        chain("graft-parquet", dimFilter).collect().map(_.getLong(1)).sum)
      // v2 source + in-scan transfer
      spark.conf.set("spark.graft.rpt.v2ScanFilter", "true")
      GraftParquetScan.lastFilePruneGlobal = None
      GraftParquetScan.lastBytePruneGlobal = None
      results("v2_in_scan") = timedMin(
        chain("graft-parquet", dimFilter).collect().map(_.getLong(1)).sum)
      val prune = GraftParquetScan.lastFilePruneGlobal
        .map { case (b, a) => s""""files_before":$b,"files_after":$a""" }
        .getOrElse(""""files_before":null,"files_after":null""")
      // bytes = the WORK metric: page-cached local runs hide file-skip
      // wins in wall-clock; at cluster scale skipped bytes are skipped
      // tasks and IO
      val bytes = GraftParquetScan.lastBytePruneGlobal
        .map { case (b, a) => s""","bytes_before":$b,"bytes_after":$a""" }
        .getOrElse("")
      // save whatever the probe is currently running with so the restore
      // below can't silently diverge from the setup values
      val savedCap = spark.conf.get("spark.graft.rpt.v2ScanFilterMaxBuildRows")
      spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", "1000")
      // v2 source + OVER-CAP build (cap forced below the filtered key
      // count) with the DEFAULT-ON quantized path: runtime grid anchors
      // through the DPS channel — the byte-prune parity vs the exact key
      // set is the measurement that justified flipping the over-cap
      // default on
      GraftParquetScan.lastFilePruneGlobal = None
      GraftParquetScan.lastBytePruneGlobal = None
      results("v2_quantized") = timedMin(
        chain("graft-parquet", dimFilter).collect().map(_.getLong(1)).sum)
      val pruneQ = GraftParquetScan.lastFilePruneGlobal
        .map { case (b, a) => s""""q_files_before":$b,"q_files_after":$a""" }
        .getOrElse(""""q_files_before":null,"q_files_after":null""")
      val bytesQ = GraftParquetScan.lastBytePruneGlobal
        .map { case (b, a) => s""","q_bytes_before":$b,"q_bytes_after":$a""" }
        .getOrElse("")
      spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", savedCap)

      val rows = results.values.map(_._1).toSet
      require(rows.size == 1, s"$regime: configs disagree: $results")
      if (ri > 0) out.append(",")
      out.append(s""""$regime":{"rows":${rows.head},$prune$bytes,$pruneQ$bytesQ,""")
      out.append(results.map { case (k, (_, s)) =>
        s""""$k":${math.round(s * 1000) / 1000.0}""" }.mkString(","))
      out.append(s""","speedup_vs_stock":${
        math.round(results("stock")._2 / results("v2_in_scan")._2 * 1000) / 1000.0}}""")
    }
    // ---- STRKEY regime (r13): string-keyed clustered layout, the
    // runtime ENVELOPE path. The orderkey is materialized as a
    // zero-padded VARCHAR in BOTH relations (string sort order == key
    // order), the fact range-clustered by it — the layout a
    // string-PK'd append-only fact has at scale. The build is forced
    // over-cap: the only in-scan transfer available is the runtime MIN/MAX envelope delivered
    // through the DPS channel (physical_create_bf.cpp:131-176 tracks
    // exactly these bounds for VARCHAR sinks).
    locally {
      import org.apache.spark.sql.functions.{col, count, lit, lpad}
      val factStrDir =
        s"/root/repo/benchdata/v2probe-$sfName/lineitem_str.parquet"
      val ordStrDir =
        s"/root/repo/benchdata/v2probe-$sfName/orders_str.parquet"
      if (!new java.io.File(factStrDir).exists()) {
        val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
          .withColumn("l_okey_str",
            lpad(col("l_orderkey").cast("string"), 12, "0"))
        l.repartitionByRange(16, col("l_okey_str"))
          .sortWithinPartitions("l_okey_str")
          .write.mode("overwrite").parquet(factStrDir)
      }
      if (!new java.io.File(ordStrDir).exists()) {
        spark.read.parquet(s"$sfDir/orders.parquet")
          .withColumn("o_okey_str",
            lpad(col("o_orderkey").cast("string"), 12, "0"))
          .write.mode("overwrite").parquet(ordStrDir)
      }
      def chainStr(factFormat: String): DataFrame = {
        val l = spark.read.format(factFormat).load(factStrDir)
        val o = spark.read.parquet(ordStrDir)
          .where(s"o_orderkey >= ${(maxKey * 0.94).toLong}")
        val c = spark.read.parquet(s"$sfDir/customer.parquet")
        l.join(o, l("l_okey_str") === o("o_okey_str"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .groupBy(c("c_mktsegment"))
          .agg(count(lit(1)).as("cnt"))
      }
      val savedCap =
        spark.conf.get("spark.graft.rpt.v2ScanFilterMaxBuildRows")
      // force over-cap so the envelope is the only in-scan channel
      spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", "1000")
      val results = scala.collection.mutable.LinkedHashMap[String, (Long, Double)]()
      spark.conf.set("spark.graft.rpt.v2ScanFilter", "false")
      results("stock") = timedMin(
        chainStr("parquet").collect().map(_.getLong(1)).sum)
      results("v2_bf_only") = timedMin(
        chainStr("graft-parquet").collect().map(_.getLong(1)).sum)
      spark.conf.set("spark.graft.rpt.v2ScanFilter", "true")
      GraftParquetScan.lastFilePruneGlobal = None
      GraftParquetScan.lastBytePruneGlobal = None
      results("v2_envelope") = timedMin(
        chainStr("graft-parquet").collect().map(_.getLong(1)).sum)
      val pruneE = GraftParquetScan.lastFilePruneGlobal
        .map { case (b, a) => s""""files_before":$b,"files_after":$a""" }
        .getOrElse(""""files_before":null,"files_after":null""")
      val bytesE = GraftParquetScan.lastBytePruneGlobal
        .map { case (b, a) => s""","bytes_before":$b,"bytes_after":$a""" }
        .getOrElse("")
      spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", savedCap)
      val rows = results.values.map(_._1).toSet
      require(rows.size == 1, s"strkey: configs disagree: $results")
      out.append(s""","strkey":{"rows":${rows.head},$pruneE$bytesE,""")
      out.append(results.map { case (k, (_, s)) =>
        s""""$k":${math.round(s * 1000) / 1000.0}""" }.mkString(","))
      out.append(s""","speedup_vs_stock":${
        math.round(results("stock")._2 / results("v2_envelope")._2 * 1000) / 1000.0}}""")
    }
    out.append(s""","sf":"$sfDir","runs":$runs}""")
    // scalastyle:off println
    println(out.toString)
    // scalastyle:on println
    spark.stop()
  }
}
