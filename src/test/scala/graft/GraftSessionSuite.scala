package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guards on the fixture timestamp normalization (events.ts arrives as
 *  epoch-nanos long, TIMESTAMP_NTZ, or TimestampType depending on fixture
 *  generation; anything else must fail loudly at load time). */
class GraftSessionSuite extends SparkTestBase {

  test("normalizeTs passes TimestampType through unchanged") {
    val df = spark.range(1).select(timestamp_micros(lit(1700000000000000L)).as("ts"))
    assert(GraftSession.normalizeTs(df) eq df)
  }

  test("normalizeTs converts epoch-nanos longs with exact integer division") {
    // 1.7e18 ns exceeds 2^53: a double round-trip would be off by ±1 us
    val nanos = 1700000000000000001L
    val df = spark.range(1).select(lit(nanos).as("ts"))
    val out = GraftSession.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    val micros = out.select(unix_micros(col("ts"))).head().getLong(0)
    assert(micros == nanos / 1000L)
  }

  test("normalizeTs reinterprets NTZ only under a UTC session") {
    val df = spark.range(1)
      .select(lit("2024-01-02 03:04:05").cast(TimestampNTZType).as("ts"))
    val out = GraftSession.normalizeTs(df)
    assert(out.schema("ts").dataType == TimestampType)
    assert(out.select(unix_micros(col("ts"))).head().getLong(0) ==
      java.time.LocalDateTime.of(2024, 1, 2, 3, 4, 5)
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)
    // UTC-equivalent zone ids must pass (a stock shell inherits the JVM
    // default, often Etc/UTC); real offsets must fail
    Seq("Etc/UTC", "GMT", "+00:00").foreach { z =>
      withConf("spark.sql.session.timeZone" -> z) {
        assert(GraftSession.normalizeTs(df).schema("ts").dataType == TimestampType)
      }
    }
    Seq("America/New_York", "+05:30").foreach { z =>
      withConf("spark.sql.session.timeZone" -> z) {
        val e = intercept[IllegalArgumentException](GraftSession.normalizeTs(df))
        assert(e.getMessage.contains("UTC"))
      }
    }
  }

  test("normalizeTs rejects unsupported ts types loudly") {
    val df = spark.range(1).select(lit("2024-01-02").as("ts"))
    val e = intercept[IllegalArgumentException](GraftSession.normalizeTs(df))
    assert(e.getMessage.contains("unsupported"))
  }

  test("the generated-code cache holds 2000 entries on the built session") {
    val key = org.apache.spark.sql.internal.StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
    assert(spark.conf.get(key.key) == "2000")
    // what CodeGenerator sizes its cache from when it first loads
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(org.apache.spark.sql.internal.SQLConf.get.getConf(key) == 2000)
  }

  test("streaming checkpoint I/O defaults: FileSystem-based manager, " +
      "Spark-level checksums off (r19: ~50ms/store-commit of shell forks " +
      "and awaited checksum writes on a native-less local fs)") {
    assert(spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
      == "org.apache.spark.sql.execution.streaming.checkpointing." +
        "FileSystemBasedCheckpointFileManager")
    assert(spark.conf.get(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    // both are plain session confs a deployment can override
    withConf("spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "true") {
      assert(spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true")
    }
  }
}
