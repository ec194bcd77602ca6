package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, date_from_unix_date, input_file_name, max, min, unix_date}
import org.apache.spark.sql.graft.sources.{GraftParquetScan, GraftParquetTable}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkTestBase

/**
 * The `graft-parquet` runtime file prune against a brute-force reference.
 * Over 8-file key-clustered tables (Int, Long, Date and String keys, with
 * keys at the type's minimum and maximum), random deliveries of exact key
 * sets, quantized anchors and envelopes — one or two conjunctive
 * deliveries per scan — must keep exactly the files the reference keeps.
 * The reference reads each file's [min, max] with a plain aggregate and
 * keeps a file when some key in its range lies in every delivery: the
 * intersection of unions of closed intervals, restricted to the file's
 * range, is non-empty iff it holds the file's min or some interval start.
 */
class RuntimePruneEquivalenceSuite extends SparkTestBase {

  /** One key type: its clusters (one file each) as test-domain values —
    * BigInt for the integral types, String for strings — and how those
    * map to the column and to Catalyst values. */
  private case class KeyType(
      dt: DataType,
      clusters: Seq[Seq[Any]],
      typeMax: Option[BigInt],
      toColumn: DataFrame => DataFrame,
      ofFileStat: Any => Any,
      toCatalyst: Any => Any,
      ord: Ordering[Any])

  private val bigOrd: Ordering[Any] = Ordering.BigInt.on[Any](_.asInstanceOf[BigInt])
  private val strOrd: Ordering[Any] = Ordering.fromLessThan[Any] { (a, b) =>
    UTF8String.fromString(a.asInstanceOf[String])
      .compareTo(UTF8String.fromString(b.asInstanceOf[String])) < 0
  }

  private def integral(lo: BigInt, hi: BigInt): Seq[Seq[Any]] = {
    // clusters of 40 keys spaced 3 apart, the first starting at the type
    // minimum and the last ending at the type maximum; gaps in between
    val span = hi - lo
    val starts = Seq(lo, lo + span / 7, lo + span * 2 / 5, lo + span / 2 - 200,
      lo + span / 2 + 200, lo + span * 3 / 5, lo + span * 6 / 7, hi - 117)
    starts.map(s => (0 until 40).map(j => s + 3 * j))
  }

  private lazy val types: Seq[KeyType] = {
    def longs(df: DataFrame, dt: DataType) = df.select(col("v").cast(dt).as("k"))
    val intRange = integral(Int.MinValue, Int.MaxValue)
    Seq(
      KeyType(IntegerType, intRange, Some(Int.MaxValue),
        df => longs(df, IntegerType), v => BigInt(v.asInstanceOf[Int]),
        v => v.asInstanceOf[BigInt].toInt, bigOrd),
      KeyType(LongType, integral(Long.MinValue, Long.MaxValue),
        Some(Long.MaxValue), df => longs(df, LongType),
        v => BigInt(v.asInstanceOf[Long]),
        v => v.asInstanceOf[BigInt].toLong, bigOrd),
      KeyType(DateType, intRange, Some(Int.MaxValue),
        df => df.select(date_from_unix_date(col("v").cast(IntegerType)).as("k")),
        v => BigInt(v.asInstanceOf[Int]),
        v => v.asInstanceOf[BigInt].toInt, bigOrd),
      KeyType(StringType,
        Seq("", "\u0001") +: (0 until 6).map(f =>
          (0 until 40).map(j => f"k$f%d_${3 * j}%03d")) :+
          Seq("\uffff", "\uffff\uffff"),
        None, df => df.select(col("v").as("k")), identity,
        v => UTF8String.fromString(v.asInstanceOf[String]), strOrd))
  }

  /** Writes one file per cluster; returns the table dir and each file's
    * [min, max] in the test domain, by file name. */
  private def write(t: KeyType): (String, Map[String, (Any, Any)]) = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_prune_eq_").toFile
    dir.deleteOnExit()
    val path = s"${dir.getAbsolutePath}/t.parquet"
    t.clusters.foreach { c =>
      val df = t.dt match {
        case StringType => c.map(_.asInstanceOf[String]).toDF("v")
        case _ => c.map(_.asInstanceOf[BigInt].toString).toDF("v")
          .select(col("v").cast(DecimalType(20, 0)).as("v"))
      }
      t.toColumn(df).coalesce(1).write.mode("append").parquet(path)
    }
    val key = if (t.dt == DateType) unix_date(col("k")) else col("k")
    val ranges = spark.read.parquet(path)
      .groupBy(input_file_name().as("f"))
      .agg(min(key).as("lo"), max(key).as("hi")).collect()
      .map(r => fileName(r.getString(0)) ->
        ((t.ofFileStat(r.get(1)), t.ofFileStat(r.get(2))))).toMap
    assert(ranges.size === t.clusters.size)
    (path, ranges)
  }

  private def fileName(uri: String): String = uri.substring(uri.lastIndexOf('/') + 1)

  /** Values to draw deliveries from: every cluster's ends and middle, the
    * keys next to them (inside gaps and between spaced keys), and the
    * type's extremes. */
  private def pool(t: KeyType): IndexedSeq[Any] = t.dt match {
    case StringType =>
      (t.clusters.flatMap(c => Seq(c.head, c(c.size / 2), c.last,
        c.last.asInstanceOf[String] + "x")) ++
        Seq("", "k", "k2", "k5_9", "z")).toIndexedSeq
    case _ =>
      val lo = t.clusters.head.head.asInstanceOf[BigInt]
      val hi = t.typeMax.get
      t.clusters.flatMap { c =>
        val (a, b) = (c.head.asInstanceOf[BigInt], c.last.asInstanceOf[BigInt])
        Seq(a - 1, a, a + 1, c(c.size / 2).asInstanceOf[BigInt], b - 1, b, b + 1)
      }.filter(v => v >= lo && v <= hi).toIndexedSeq
  }

  test("runtime file prune equals the brute-force reference on every key type") {
    val rnd = new Random(17)
    var informative = 0
    types.foreach { t =>
      val (path, ranges) = write(t)
      val table = spark.read.format("graft-parquet").load(path)
        .queryExecution.analyzed.collectFirst {
          case r: DataSourceV2Relation => r.table.asInstanceOf[GraftParquetTable]
        }.get
      val values = pool(t)
      val forms = if (t.typeMax.isDefined) Seq("exact", "quant", "envelope")
        else Seq("exact", "envelope")
      for (form <- forms; trial <- 0 until 40) {
        val width = Seq(0L, 1L, 2L, 7L, 100L, 1L << 40, Long.MaxValue)(rnd.nextInt(7))
        val deliveries = Seq.fill(1 + rnd.nextInt(2)) {
          Seq.fill(rnd.nextInt(6))(values(rnd.nextInt(values.size)))
        }
        // each delivery as closed test-domain intervals
        val intervals = deliveries.map { vs =>
          form match {
            case "exact" => vs.map(v => (v, v))
            case "quant" => vs.map { v =>
              (v, (v.asInstanceOf[BigInt] + width).min(t.typeMax.get))
            }
            case "envelope" =>
              if (vs.isEmpty) Nil else Seq((vs.min(t.ord), vs.max(t.ord)))
          }
        }
        val expected = ranges.collect {
          case (f, (lo, hi)) if (lo +: intervals.flatten.map(_._1)).exists { c =>
              t.ord.lteq(lo, c) && t.ord.lteq(c, hi) &&
                intervals.forall(_.exists { case (l, h) =>
                  t.ord.lteq(l, c) && t.ord.lteq(c, h)
                })
            } => f
        }.toSet
        val opts = form match {
          case "quant" => Map("graft.quant.k" -> width.toString)
          case "envelope" => Map("graft.range.k" -> "1")
          case _ => Map.empty[String, String]
        }
        val scan = table.newScanBuilder(new CaseInsensitiveStringMap(opts.asJava))
          .build().asInstanceOf[GraftParquetScan]
        scan.filter(deliveries.map(vs =>
          GraftParquetScan.inPredicate("k", t.dt, vs.map(t.toCatalyst))).toArray)
        val kept = scan.toBatch.planInputPartitions().flatMap(p =>
          p.asInstanceOf[FilePartition].files.map(f => fileName(f.filePath.toString)))
          .toSet
        assert(kept === expected,
          s"${t.dt} $form w=$width deliveries=$deliveries")
        if (expected.nonEmpty && expected.size < ranges.size) informative += 1
      }
    }
    // most trials must keep some but not all files to test anything
    assert(informative > 200, s"only $informative informative trials")
  }
}
