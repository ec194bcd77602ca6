package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Canonical session factory for the graft engine: wires in the RPT
 * optimizer extension and the scale-oriented defaults (AQE on, shuffle
 * partitions sized to the local core count rather than 200, Spark's own
 * single-hop runtime bloom filter off so it doesn't double-filter what the
 * multi-hop RPT rule already handles).
 */
object GraftSession {
  def build(
      master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]",
      shufflePartitions: Int =
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.extensions", classOf[rpt.RptExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      // BloomFilterAggregate hard-`require`s items/bits under these caps;
      // the stock 4M items / 64Mbit would saturate (or fail) the filters
      // the rule's probe-relative big-build path sizes for fact-scale
      // probes, so both are raised to RptConf.BigBuildMaxBfItems (32M
      // items, 256Mbit at Spark's 8 bits/item)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
        rpt.RptConf.BigBuildMaxBfItems.toString)
      .config("spark.sql.optimizer.runtime.bloomFilter.maxNumBits",
        (rpt.RptConf.BigBuildMaxBfItems * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // generated-code cache (a static conf, read once per JVM): the stock
      // 100 entries are fewer than one pass over the registry's query
      // families compiles, so each query recompiled its generated classes
      // unless it had just run (first execution of a rule off/on pair
      // 1.19x the second; 1.00x at 2000 entries)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // events.parquet carries TIMESTAMP(NANOS); read as long, converted in
      // loadTables (Spark has no nanosecond timestamp type)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming checkpoint I/O on a LOCAL filesystem (this factory's
      // shape — the drains create their checkpoints under java.io.tmpdir):
      // the default FileContext-based manager forks a shell process per
      // mkdir (chmod) and per rename (readlink) when libhadoop is absent,
      // and Spark 4.1's checkpoint file checksums add an awaited async
      // write per checkpoint file — together ~50 ms PER STATE-STORE COMMIT
      // of pure fixed overhead (stack-sampled; a stream-stream join pays
      // it 4 stores x partitions per micro-batch). The FileSystem-based
      // manager keeps rename-based atomicity on local fs via
      // File.renameTo, and Hadoop LocalFileSystem's own CRC layer still
      // checksums every file, so Spark-level checksums are redundant
      // here. Both confs are plain session confs — a deployment
      // checkpointing to HDFS/object storage overrides them (e.g. via
      // SPARK_GRAFT_EXTRA_CONF, which is applied after these).
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager")
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // experiment hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applies session
    // confs (lets Bench/RptBench sweeps vary rpt settings without edits)
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach {
      _.split(';').filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      }
    }
    spark.sparkContext.setLogLevel("WARN")
    spark.listenerManager.register(new rpt.RptProfiling.RptProfilingListener(spark))
    spark
  }

  /** All fixture tables of one scale-factor directory, as temp views. */
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** `events.ts` has shipped in two fixture generations: TIMESTAMP(NANOS)
    * (read as epoch-nanos long under nanosAsLong) and TIMESTAMP(MICROS)
    * without tz (read as TIMESTAMP_NTZ). Normalize both to a session-tz
    * (UTC) TimestampType so watermarks, time functions, and the DuckDB
    * oracle (which sees naive micros either way) all agree. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      // exact integer division: epoch-nanos ~1.7e18 exceed 2^53, so a
      // double round-trip (col/1000) can shift the microsecond by ±1;
      // DuckDB truncates exactly, so must we
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // NTZ micros reinterpreted as UTC — bit-identical ONLY under a UTC
      // session (the cast reads the naive micros in the session zone), so
      // enforce the precondition instead of trusting build()'s config to
      // survive SPARK_GRAFT_EXTRA_CONF overrides
      case _: TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        // accept any UTC-equivalent zone id ("UTC", "Etc/UTC", "GMT", "+00:00"
        // — stock shells inherit the JVM default, often Etc/UTC), reject real
        // offsets
        val isUtc = scala.util.Try(
          java.time.ZoneId.of(tz, java.time.ZoneId.SHORT_IDS).normalized() ==
            java.time.ZoneOffset.UTC).getOrElse(false)
        require(isUtc,
          s"normalizeTs reinterprets TIMESTAMP_NTZ in the session zone; requires UTC, got '$tz'")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other; expected epoch-nanos LongType, " +
          "TIMESTAMP_NTZ, or TimestampType")
    }
  }

  def loadTables(spark: SparkSession, sfDir: String): Map[String, DataFrame] = {
    tableNames.map { name =>
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      val df = if (name == "events") normalizeTs(raw) else raw
      df.createOrReplaceTempView(name)
      name -> df
    }.toMap
  }
}
