package org.apache.spark.sql.graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.expressions.{FieldReference, Literal => V2Literal, LiteralValue, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileDataSourceV2
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder, ParquetTable}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/**
 * `graft-parquet`: the built-in v2 parquet source plus
 * [[SupportsRuntimeV2Filtering]] — the missing piece that lets RUNTIME
 * join-key values reach the scan itself. Stock Spark file sources only
 * runtime-prune PARTITION directories (DPP); the reference pushes its
 * dynamic filters all the way into the table scan
 * (rpt_optimizer.cpp:1401-1501, physical_create_bf.cpp:282-350 — the
 * created filter is handed to LOGICAL_GET and evaluated during the
 * scan). This source is the Spark-native analog: when the engine plans a
 * runtime group filter (stock DPP, or the RPT rule's spliced
 * [[org.apache.spark.sql.catalyst.expressions.DynamicPruningSubquery]]),
 * `filter(predicates)` receives the build side's key values and
 *  - drops whole FILES whose footer min/max excludes every value
 *    (driver-side, each footer read once per JVM — at 100 TB with
 *    ~128 MB files and a key-clustered layout this skips scheduling
 *    entire task sets);
 *  - appends the values to the pushed parquet filters, so surviving
 *    files skip ROW GROUPS via zone maps / dictionaries inside the
 *    reader (executor-side, no driver cost).
 * Everything else — schema inference, vectorized reading, aggregate
 * pushdown, writes — is the stock parquet v2 path, delegated verbatim.
 *
 * Lives under `org.apache.spark.sql` because the file-source v2 scaffold
 * (`FileDataSourceV2`, `ParquetTable`, `ParquetScanBuilder`) is
 * `private[sql]` — same bridge precedent as
 * [[org.apache.spark.sql.graft.SqlBridge]].
 */
class GraftParquetDataSource extends FileDataSourceV2 {

  override def fallbackFileFormat: Class[_ <: org.apache.spark.sql.execution.datasources.FileFormat] =
    classOf[ParquetFileFormat]

  override def shortName(): String = "graft-parquet"

  override def getTable(options: CaseInsensitiveStringMap): org.apache.spark.sql.connector.catalog.Table = {
    val paths = getPaths(options)
    val tableName = getTableName(options, paths)
    val optionsWithoutPaths = getOptionsWithoutPaths(options)
    new GraftParquetTable(tableName, sparkSession, optionsWithoutPaths, paths, None)
  }

  override def getTable(options: CaseInsensitiveStringMap, schema: StructType): org.apache.spark.sql.connector.catalog.Table = {
    val paths = getPaths(options)
    val tableName = getTableName(options, paths)
    val optionsWithoutPaths = getOptionsWithoutPaths(options)
    new GraftParquetTable(tableName, sparkSession, optionsWithoutPaths, paths, Some(schema))
  }
}

/** Stock [[ParquetTable]] whose scans are runtime-filterable. */
class GraftParquetTable(
    tableName: String,
    spark: SparkSession,
    tableOptions: CaseInsensitiveStringMap,
    tablePaths: Seq[String],
    declaredSchema: Option[StructType])
  extends ParquetTable(tableName, spark, tableOptions, tablePaths,
    declaredSchema, classOf[ParquetFileFormat]) {

  override def newScanBuilder(options: CaseInsensitiveStringMap): ParquetScanBuilder =
    new GraftParquetScanBuilder(spark, fileIndex, schema, dataSchema, options)
}

class GraftParquetScanBuilder(
    spark: SparkSession,
    index: PartitioningAwareFileIndex,
    tableSchema: StructType,
    parquetDataSchema: StructType,
    opts: CaseInsensitiveStringMap)
  extends ParquetScanBuilder(spark, index, tableSchema, parquetDataSchema, opts) {

  override def build(): ParquetScan =
    new GraftParquetScan(super.build(), GraftParquetScan.quantWidths(opts),
      GraftParquetScan.rangeCols(opts))
}

/**
 * A [[ParquetScan]] that also implements [[SupportsRuntimeV2Filtering]].
 * The v2 contract calls `filter` at most once per scan instance, before
 * partition planning; a second call with different predicates (a shared
 * instance across plan branches) conservatively DISABLES pruning rather
 * than over-prune either consumer — runtime filters only ever skip data
 * that cannot match, so "no pruning" is always correct.
 *
 * `quantWidths` (from `graft.quant.<col>=<width>` read options, injected
 * by the RPT rule's over-cap in-scan path) switches a column's runtime
 * IN-set interpretation from exact keys to QUANTIZED ANCHORS: each
 * delivered value `v` stands for the key range `[v, v+width]` (internal
 * integral domain). The build side quantizes its keys onto the same grid
 * at execution, so the range union covers every runtime build key
 * exactly — that makes the over-cap path runtime-fresh and uncapped
 * (the reference's scan filters are likewise built fresh per execution,
 * physical_create_bf.cpp:282-350). A width conservatively widens ANY
 * predicate delivered on that column (an under-cap exact set widened by
 * `width` is a superset — never over-prunes).
 *
 * `rangeCols` (from `graft.range.<col>=1` read options) switches a
 * column's runtime IN-set interpretation to an ENVELOPE: the delivered
 * value set stands for the whole ordered range
 * `[min(values), max(values)]`. The rule uses this for over-cap builds
 * whose keys the quantized grid cannot express (VARCHAR and other
 * non-integral orderable types): the build side delivers its runtime
 * MIN/MAX (two values) and the scan prunes files whose footer range
 * misses the envelope plus pushes `>= lo AND <= hi` to row-group zone
 * maps — the type-generic half of the reference's runtime min/max scan
 * filters (physical_create_bf.cpp:131-176, rpt_optimizer.cpp:1401-1501),
 * runtime-fresh with no planning-time staleness caveat. An envelope
 * conservatively widens any delivered set, so it never over-prunes.
 */
class GraftParquetScan(base: ParquetScan,
    val quantWidths: Map[String, Long] = Map.empty,
    val rangeCols: Set[String] = Set.empty)
  extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
    base.dataSchema, base.readDataSchema, base.readPartitionSchema,
    base.pushedFilters, base.options, base.pushedAggregate,
    base.partitionFilters, base.dataFilters, base.pushedVariantExtractions)
  with SupportsRuntimeV2Filtering {

  // (column name -> runtime key values, Catalyst-internal representation)
  @volatile private var runtimeKeys: Map[String, Array[Any]] = Map.empty
  // (quantized column name -> sorted disjoint [lo, hi] key ranges, in the
  // internal integral domain — days for dates, micros for timestamps)
  @volatile private var runtimeRanges: Map[String, Array[(Long, Long)]] = Map.empty
  // (range-marked column name -> [lo, hi] envelope in the Catalyst-internal
  // value space; None = empty delivered set, prunes everything)
  @volatile private var runtimeEnvelopes: Map[String, Option[(Any, Any)]] = Map.empty
  @volatile private var poisoned = false
  // visible for tests/metrics: files before/after the footer prune
  @volatile var lastFilePrune: Option[(Int, Int)] = None
  // visible for tests: predicates received / parsed by the last filter()
  @volatile var lastFilterCall: Option[(Int, Int)] = None

  private def atomic(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: StringType | _: DateType | _: FloatType | _: DoubleType => true
    case _ => false
  }

  override def filterAttributes(): Array[NamedReference] =
    readDataSchema.fields.collect {
      case f if atomic(f.dataType) => FieldReference.column(f.name)
    }

  /** Quantization width for `col`, when one was declared AND the column's
    * internal type is integral (the only types the rule quantizes; a
    * width on any other type is ignored — exact-set semantics). */
  private def quantWidthOf(col: String): Option[Long] =
    quantWidths.get(col.toLowerCase(java.util.Locale.ROOT)).filter(_ >= 0)
      .filter(_ => GraftParquetScan.toLongConv(readDataSchema(col).dataType)
        .isDefined)

  /** Envelope interpretation for `col`: range-marked, not quant-marked
    * (the rule never dual-marks; quant wins if an option set somehow
    * carries both), and orderable. */
  private def rangeMarked(col: String): Boolean =
    rangeCols.contains(col.toLowerCase(java.util.Locale.ROOT)) &&
      quantWidthOf(col).isEmpty &&
      GraftParquetScan.catalystOrdering(readDataSchema(col).dataType).isDefined

  override def filter(predicates: Array[V2Predicate]): Unit = {
    GraftParquetScan.filterCalls.incrementAndGet()
    val parsed = predicates.flatMap(parseEqualityPredicate)
    lastFilterCall = Some((predicates.length, parsed.length))
    if (parsed.isEmpty) return
    // the predicates array is a CONJUNCTION: several IN-sets on one column
    // (e.g. forward and backward transfer passes) intersect — an empty
    // intersection legitimately prunes the whole scan
    val byCol = parsed.groupBy(_._1)
    val nextKeys = byCol
      .filter(c => quantWidthOf(c._1).isEmpty && !rangeMarked(c._1))
      .map { case (c, vs) =>
        c -> vs.map(_._2.toSet).reduce(_ intersect _).toArray
      }
    val nextRanges = byCol.flatMap { case (c, vs) =>
      quantWidthOf(c).map { w =>
        val toLong =
          GraftParquetScan.toLongConv(readDataSchema(c).dataType).get
        c -> vs.map { case (_, values) =>
          GraftParquetScan.mergeRanges(values.map { v =>
            val lo = toLong(v); (lo, GraftParquetScan.satAdd(lo, w))
          })
        }.reduce(GraftParquetScan.intersectRanges)
      }
    }
    val nextEnvelopes = byCol.collect {
      case (c, vs) if rangeMarked(c) =>
        implicit val ord: Ordering[Any] =
          GraftParquetScan.catalystOrdering(readDataSchema(c).dataType).get
        // each delivery's envelope covers its value set; conjunction of
        // deliveries intersects envelopes (empty -> prune everything)
        c -> vs.map { case (_, values) =>
          if (values.isEmpty) None else Some((values.min, values.max))
        }.reduce[Option[(Any, Any)]] {
          case (Some((l1, h1)), Some((l2, h2))) =>
            val lo = ord.max(l1, l2); val hi = ord.min(h1, h2)
            if (ord.lteq(lo, hi)) Some((lo, hi)) else None
          case _ => None
        }
    }
    synchronized {
      if ((runtimeKeys.nonEmpty || runtimeRanges.nonEmpty ||
            runtimeEnvelopes.nonEmpty) &&
          (runtimeKeys != nextKeys || !rangesEq(runtimeRanges, nextRanges) ||
            runtimeEnvelopes != nextEnvelopes)) {
        poisoned = true
      } else {
        runtimeKeys = nextKeys
        runtimeRanges = nextRanges
        runtimeEnvelopes = nextEnvelopes
      }
    }
  }

  private def rangesEq(a: Map[String, Array[(Long, Long)]],
      b: Map[String, Array[(Long, Long)]]): Boolean =
    a.keySet == b.keySet && a.forall { case (c, r) => r.sameElements(b(c)) }

  /** `IN(col, v...)` / `col = v` with literal values — the shapes the
    * engine produces from a planned runtime group filter. */
  private def parseEqualityPredicate(p: V2Predicate): Option[(String, Array[Any])] = {
    val col = p.children().headOption match {
      case Some(r: NamedReference) if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    col.filter(c => readDataSchema.fieldNames.contains(c)).flatMap { c =>
      p.name() match {
        case "IN" | "=" =>
          val vals = p.children().drop(1).map {
            case l: V2Literal[_] => Some(l.value.asInstanceOf[Any])
            case _ => None
          }
          // Drop null literals (a nullable build-side join key can emit
          // them): null never equi-matches, so removing them is exact —
          // and the comparators in fileMayContain / runtimeFilteredCopy
          // are null-hostile. An all-null OR EMPTY build set legitimately
          // becomes the empty set, which prunes every file (the delivered
          // values are the build side's rows; zero rows means the
          // equi-join can match nothing — the reference's empty-filter
          // always-false, physical_create_bf.cpp:289-297).
          if (vals.forall(_.isDefined))
            Some(c -> vals.flatten.filterNot(_ == null)) else None
        case _ => None
      }
    }
  }

  /** A stock copy with the runtime values appended to the pushed parquet
    * filters — surviving files skip row groups via zone maps /
    * dictionaries inside the reader. Pushed filter values use external
    * Scala types (String, not UTF8String). */
  private def runtimeFilteredCopy: ParquetScan = {
    if (poisoned) return this
    val extraKeys = runtimeKeys.flatMap { case (c, vals) =>
      val dt = readDataSchema(c).dataType
      val conv = CatalystTypeConverters.createToScalaConverter(dt)
      val ext = vals.map(conv)
      // IN for exactness (dictionary + small-set zone-map skip; parquet
      // refuses over-threshold INs) plus the [min,max] range, which
      // parquet can always evaluate cheaply. An EMPTY value set pushes
      // nothing — the file-level prune already drops every file.
      (if (ext.isEmpty) Seq.empty
       else Seq[sources.Filter](sources.In(c, ext))) ++
        (GraftParquetScan.catalystOrdering(dt) match {
          case Some(ord) if vals.nonEmpty => Seq(
            sources.GreaterThanOrEqual(c, conv(vals.min(ord))),
            sources.LessThanOrEqual(c, conv(vals.max(ord))))
          case _ => Seq.empty
        })
    }
    // quantized columns: push the merged [lo, hi] runs as an OR-of-ranges
    // (row-group zone maps evaluate each range cheaply); past the run cap
    // collapse to the global envelope — still a valid superset filter.
    // An empty range union (empty build) pushes nothing; the file-level
    // prune already drops every file.
    val extraRanges = runtimeRanges.flatMap { case (c, ranges) =>
      val dt = readDataSchema(c).dataType
      val conv = CatalystTypeConverters.createToScalaConverter(dt)
      val fromLong = GraftParquetScan.fromLongConv(dt)
      def rangeFilter(r: (Long, Long)): sources.Filter = sources.And(
        sources.GreaterThanOrEqual(c, conv(fromLong(r._1))),
        sources.LessThanOrEqual(c, conv(fromLong(r._2))))
      if (ranges.isEmpty) Seq.empty
      else if (ranges.length <= GraftParquetScan.MaxPushedRanges) {
        Seq(ranges.map(rangeFilter).reduce[sources.Filter](sources.Or(_, _)))
      } else Seq(rangeFilter((ranges.head._1, ranges.last._2)))
    }
    // envelope columns: push the [lo, hi] bounds (zone-map friendly for
    // any orderable type incl. VARCHAR); an empty envelope pushes nothing
    // — the file-level prune already drops every file
    val extraEnvelopes = runtimeEnvelopes.flatMap { case (c, env) =>
      val conv = CatalystTypeConverters.createToScalaConverter(
        readDataSchema(c).dataType)
      env.toSeq.flatMap { case (lo, hi) =>
        Seq[sources.Filter](sources.GreaterThanOrEqual(c, conv(lo)),
          sources.LessThanOrEqual(c, conv(hi)))
      }
    }
    val extra = (extraKeys ++ extraRanges ++ extraEnvelopes).toArray
    if (extra.isEmpty) this else copy(pushedFilters = pushedFilters ++ extra)
  }

  private def runtimeActive: Boolean =
    (runtimeKeys.nonEmpty || runtimeRanges.nonEmpty ||
      runtimeEnvelopes.nonEmpty) && !poisoned

  override def createReaderFactory(): PartitionReaderFactory =
    if (!runtimeActive) super.createReaderFactory()
    else runtimeFilteredCopy match {
      // nothing pushable (e.g. an empty delivered set — the file-level
      // prune already dropped every file): fall through to the stock
      // factory; re-dispatching on `this` would recurse
      case same if same eq this => super.createReaderFactory()
      case filtered => filtered.createReaderFactory()
    }

  /** File-level prune: drop files whose footer [min,max] on a filtered
    * column excludes every RUNTIME value — and, independently, files whose
    * footer range falsifies a STATIC pushed filter (the stock reader only
    * uses pushed filters for row-group skipping inside already-scheduled
    * tasks; at 100 TB, deciding at the driver that a file cannot match
    * skips scheduling the task at all). */
  override protected def partitions: Seq[FilePartition] = {
    val base = super.partitions
    val keys = runtimeKeys
    val ranges = runtimeRanges
    val envelopes = runtimeEnvelopes
    val runtimeOk = runtimeActive
    val staticFilters = pushedFilters.filter(GraftParquetScan.prunable)
    if (!runtimeOk && staticFilters.isEmpty) return base
    val kept = base.flatMap { fp =>
      val files = fp.files.filter { f =>
        (!runtimeOk || (keys.forall { case (c, vals) =>
          GraftParquetScan.fileMayContain(
            hadoopConf, f.filePath.toPath, f.fileSize, c,
            readDataSchema(c).dataType, vals)
        } && ranges.forall { case (c, rs) =>
          GraftParquetScan.fileMayIntersect(
            hadoopConf, f.filePath.toPath, f.fileSize, c,
            readDataSchema(c).dataType, rs)
        } && envelopes.forall { case (c, env) =>
          env.exists { case (lo, hi) =>
            GraftParquetScan.fileMayOverlap(
              hadoopConf, f.filePath.toPath, f.fileSize, c,
              readDataSchema(c).dataType, lo, hi)
          } // None (empty delivered set) keeps no file
        })) &&
        staticFilters.forall(flt => GraftParquetScan.fileMayMatch(
          hadoopConf, f.filePath.toPath, f.fileSize, readDataSchema, flt))
      }
      if (files.isEmpty) None else Some(files)
    }
    lastFilePrune = Some((base.map(_.files.length).sum, kept.map(_.length).sum))
    GraftParquetScan.lastFilePruneGlobal = lastFilePrune
    GraftParquetScan.lastBytePruneGlobal = Some((
      base.map(_.files.map(_.fileSize).sum).sum,
      kept.map(_.map(_.fileSize).sum).sum))
    kept.zipWithIndex.map { case (fs, i) => FilePartition(i, fs) }
  }

  override def description(): String = {
    val rf =
      if (poisoned) ", RuntimeFilters: [disabled: conflicting reuse]"
      else if (runtimeKeys.isEmpty && runtimeRanges.isEmpty &&
        runtimeEnvelopes.isEmpty) ""
      else (runtimeKeys.map { case (c, v) => s"$c IN (${v.length} values)" } ++
        runtimeRanges.map { case (c, r) => s"$c IN (${r.length} ranges)" } ++
        runtimeEnvelopes.map { case (c, e) =>
          if (e.isDefined) s"$c IN [envelope]" else s"$c IN [empty envelope]" })
        .mkString(", RuntimeFilters: [", ", ", "]")
    super.description() + rf
  }

  // scan-reuse equality: stock field equality AND same runtime state (a
  // runtime-filtered scan is not interchangeable with an unfiltered one)
  override def equals(obj: Any): Boolean = obj match {
    case g: GraftParquetScan =>
      super.equals(g) && runtimeKeysEq(g) && poisoned == g.poisoned &&
        quantWidths == g.quantWidths && rangeCols == g.rangeCols &&
        rangesEq(runtimeRanges, g.runtimeRanges) &&
        runtimeEnvelopes == g.runtimeEnvelopes
    case _ => false
  }
  private def runtimeKeysEq(g: GraftParquetScan): Boolean =
    runtimeKeys.keySet == g.runtimeKeys.keySet &&
      runtimeKeys.forall { case (c, v) => g.runtimeKeys(c).sameElements(v) }
  override def hashCode(): Int = super.hashCode()
}
object GraftParquetScan {

  /** Runtime-filter observability. AQE re-planning rebuilds scan
    * instances between rounds, so the instance that executes (and prunes)
    * is often not the one visible in the final plan tree — these
    * JVM-global mirrors let tests and metrics see the last prune/call
    * regardless of which instance the engine drove. */
  val filterCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var lastFilePruneGlobal: Option[(Int, Int)] = None
  // (bytes before, bytes after) of the same prune — the WORK metric:
  // local wall-clock hides file-skip wins once everything is page-cached
  @volatile var lastBytePruneGlobal: Option[(Long, Long)] = None

  /** Engine-shaped runtime IN predicate — `FieldReference`/`LiteralValue`
    * are `private[sql]`, so tests outside the bridge build theirs here. */
  def inPredicate(col: String, dt: DataType, values: Seq[Any]): V2Predicate =
    new V2Predicate("IN",
      (FieldReference.column(col) +:
        values.map(v => LiteralValue(v, dt): org.apache.spark.sql.connector.expressions.Expression)).toArray)

  /** Read-option prefix declaring a column's runtime IN-set as quantized
    * anchors: `graft.quant.<col> = <width>` (internal integral units —
    * days for dates, micros for timestamps). Injected per-plan by the RPT
    * rule's over-cap in-scan path. */
  val QuantOptionPrefix = "graft.quant."
  /** Read-option prefix declaring a column's runtime IN-set as an ordered
    * ENVELOPE (`graft.range.<col> = 1`): the delivered values stand for
    * the whole range `[min, max]`. Injected per-plan by the RPT rule's
    * over-cap path for non-integral (e.g. VARCHAR) keys, whose build
    * delivers exactly its runtime min and max. */
  val RangeOptionPrefix = "graft.range."
  /** Past this many merged runs, the pushed OR-of-ranges collapses to the
    * global envelope (row-group evaluation of a huge OR tree costs more
    * than it skips; the file-level prune still uses every run). */
  val MaxPushedRanges = 64

  private[sources] def quantWidths(opts: CaseInsensitiveStringMap)
      : Map[String, Long] =
    opts.asCaseSensitiveMap().asScala.collect {
      case (k, v) if k.toLowerCase(java.util.Locale.ROOT)
          .startsWith(QuantOptionPrefix) && Try(v.toLong).isSuccess =>
        k.substring(QuantOptionPrefix.length)
          .toLowerCase(java.util.Locale.ROOT) -> v.toLong
    }.toMap

  private[sources] def rangeCols(opts: CaseInsensitiveStringMap)
      : Set[String] =
    opts.asCaseSensitiveMap().asScala.keysIterator.collect {
      case k if k.toLowerCase(java.util.Locale.ROOT)
          .startsWith(RangeOptionPrefix) =>
        k.substring(RangeOptionPrefix.length)
          .toLowerCase(java.util.Locale.ROOT)
    }.toSet

  /** Footer-stats overlap for an envelope column: keep the file unless
    * its [min,max] is disjoint from the delivered [lo,hi]. Unreadable
    * stats keep the file. */
  def fileMayOverlap(conf: org.apache.hadoop.conf.Configuration,
      path: Path, len: Long, col: String, dt: DataType,
      lo: Any, hi: Any): Boolean =
    fileRange(conf, path, len, col, dt) match {
      case Some((flo, fhi)) =>
        val ord = catalystOrdering(dt).get
        ord.lteq(flo, hi) && ord.lteq(lo, fhi)
      case None => true
    }

  /** Catalyst-internal value -> Long for integral-backed types (the only
    * types the rule quantizes). */
  private[sources] def toLongConv(dt: DataType): Option[Any => Long] =
    dt match {
      case _: ByteType => Some(v => v.asInstanceOf[Byte].toLong)
      case _: ShortType => Some(v => v.asInstanceOf[Short].toLong)
      case _: IntegerType | _: DateType => Some(v => v.asInstanceOf[Int].toLong)
      case _: LongType | _: TimestampType | _: TimestampNTZType =>
        Some(v => v.asInstanceOf[Long])
      case _ => None
    }

  private[sources] def fromLongConv(dt: DataType): Long => Any = dt match {
    case _: ByteType => v => v.toByte
    case _: ShortType => v => v.toShort
    case _: IntegerType | _: DateType => v => v.toInt
    case _ => v => v
  }

  private[sources] def satAdd(a: Long, b: Long): Long =
    try math.addExact(a, b) catch { case _: ArithmeticException =>
      if (a > 0) Long.MaxValue else Long.MinValue }

  /** Merge [lo, hi] intervals into a sorted disjoint union (touching or
    * overlapping runs coalesce). */
  private[sources] def mergeRanges(rs: Array[(Long, Long)])
      : Array[(Long, Long)] = {
    if (rs.isEmpty) return rs
    val sorted = rs.sortBy(_._1)
    val out = mutable.ArrayBuffer[(Long, Long)](sorted.head)
    sorted.tail.foreach { case (lo, hi) =>
      val (plo, phi) = out.last
      if (lo <= satAdd(phi, 1L)) out(out.length - 1) = (plo, math.max(phi, hi))
      else out += ((lo, hi))
    }
    out.toArray
  }

  /** Intersection of two sorted disjoint interval unions. */
  private[sources] def intersectRanges(a: Array[(Long, Long)],
      b: Array[(Long, Long)]): Array[(Long, Long)] = {
    val out = mutable.ArrayBuffer[(Long, Long)]()
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val lo = math.max(a(i)._1, b(j)._1)
      val hi = math.min(a(i)._2, b(j)._2)
      if (lo <= hi) out += ((lo, hi))
      if (a(i)._2 < b(j)._2) i += 1 else j += 1
    }
    out.toArray
  }

  /** Footer-stats containment for a quantized column: keep the file
    * unless its [min,max] intersects NO delivered range. Unreadable
    * stats keep the file. */
  def fileMayIntersect(conf: org.apache.hadoop.conf.Configuration,
      path: Path, len: Long, col: String, dt: DataType,
      ranges: Array[(Long, Long)]): Boolean =
    toLongConv(dt) match {
      case Some(toLong) => fileRange(conf, path, len, col, dt) match {
        case Some((lo, hi)) =>
          val (flo, fhi) = (toLong(lo), toLong(hi))
          // binary search the first range ending at/after the file's lo
          var l = 0; var r = ranges.length
          while (l < r) {
            val m = (l + r) >>> 1
            if (ranges(m)._2 < flo) l = m + 1 else r = m
          }
          l < ranges.length && ranges(l)._1 <= fhi
        case None => true
      }
      case None => true
    }

  /** Footer-stats containment: keep the file unless its [min,max] for
    * `col` excludes EVERY runtime value. Unreadable/missing stats keep
    * the file — pruning must never turn IO trouble into wrong results. */
  def fileMayContain(conf: org.apache.hadoop.conf.Configuration, path: Path,
      len: Long, col: String, dt: DataType, vals: Array[Any]): Boolean =
    fileRange(conf, path, len, col, dt) match {
      case Some((lo, hi)) =>
        val ord = catalystOrdering(dt).get
        vals.exists(v => ord.lteq(lo, v) && ord.lteq(v, hi))
      case None => true
    }

  /** Per-file [min, max] for `col` from the row-group footers
    * ([[graft.rpt.ParquetFooters]]), in the Catalyst-internal value space;
    * None = stats unusable (caller must keep the file). */
  private def fileRange(conf: org.apache.hadoop.conf.Configuration,
      path: Path, len: Long, col: String, dt: DataType): Option[(Any, Any)] =
    catalystOrdering(dt).flatMap { implicit ord =>
      graft.rpt.ParquetFooters.footer(conf, path, len).flatMap { footer =>
        val stats = footer.columns.getOrElse(col, IndexedSeq.empty)
        if (stats.isEmpty || stats.exists(s =>
            s == null || !s.hasNonNullValue || s.isEmpty)) None
        else {
          val mins = stats.map(s =>
            parquetStatValue(s.genericGetMin.asInstanceOf[AnyRef], dt))
          val maxs = stats.map(s =>
            parquetStatValue(s.genericGetMax.asInstanceOf[AnyRef], dt))
          if (mins.contains(None) || maxs.contains(None)) None
          else Some((mins.flatten.min, maxs.flatten.max))
        }
      }
    }

  /** Can `fileMayMatch` possibly refute this pushed filter from footer
    * ranges? (Filters it cannot evaluate keep every file — used to skip
    * the footer pass entirely when nothing is refutable.) */
  def prunable(f: sources.Filter): Boolean = f match {
    case sources.And(l, r) => prunable(l) || prunable(r)
    case sources.Or(l, r) => prunable(l) && prunable(r)
    case _: sources.EqualTo | _: sources.In | _: sources.GreaterThan |
         _: sources.GreaterThanOrEqual | _: sources.LessThan |
         _: sources.LessThanOrEqual => true
    case _ => false
  }

  /** Static-filter footer containment: keep the file unless its [min,max]
    * ranges PROVE the pushed filter can match no row. Conservative on
    * every unknown (missing stats, unsupported type/shape, nested column):
    * pruning must never turn a stats gap into wrong results. Values in
    * `sources.Filter` are EXTERNAL Scala types (String, java dates) —
    * converted to the Catalyst-internal space the cached footer ranges
    * live in before comparing. */
  def fileMayMatch(conf: org.apache.hadoop.conf.Configuration, path: Path,
      len: Long, schema: StructType, filter: sources.Filter): Boolean = {
    def range(col: String): Option[((Any, Any), Ordering[Any], Any => Any)] =
      schema.fields.find(_.name == col).flatMap { f =>
        catalystOrdering(f.dataType).flatMap { ord =>
          val conv = CatalystTypeConverters.createToCatalystConverter(f.dataType)
          fileRange(conf, path, len, col, f.dataType).map((_, ord, conv))
        }
      }
    def may(f: sources.Filter): Boolean = f match {
      case sources.And(l, r) => may(l) && may(r)
      case sources.Or(l, r) => may(l) || may(r)
      case sources.EqualTo(c, v) => range(c).forall { case ((lo, hi), ord, conv) =>
        val cv = conv(v); ord.lteq(lo, cv) && ord.lteq(cv, hi)
      }
      case sources.In(c, vs) => range(c).forall { case ((lo, hi), ord, conv) =>
        vs.exists { v =>
          val cv = conv(v); ord.lteq(lo, cv) && ord.lteq(cv, hi)
        }
      }
      case sources.GreaterThan(c, v) => range(c).forall { case ((_, hi), ord, conv) =>
        ord.gt(hi, conv(v))
      }
      case sources.GreaterThanOrEqual(c, v) => range(c).forall { case ((_, hi), ord, conv) =>
        ord.gteq(hi, conv(v))
      }
      case sources.LessThan(c, v) => range(c).forall { case ((lo, _), ord, conv) =>
        ord.lt(lo, conv(v))
      }
      case sources.LessThanOrEqual(c, v) => range(c).forall { case ((lo, _), ord, conv) =>
        ord.lteq(lo, conv(v))
      }
      case _ => true
    }
    may(filter)
  }

  /** Parquet footer stat -> the Catalyst-internal value space the runtime
    * filter values live in (UTF8String for strings, Int for dates). */
  private def parquetStatValue(raw: AnyRef, dt: DataType): Option[Any] =
    (raw, dt) match {
      case (v: java.lang.Integer, _: IntegerType | _: DateType) => Some(v.intValue)
      case (v: java.lang.Long, _: LongType) => Some(v.longValue)
      case (v: java.lang.Integer, _: ShortType) => Some(v.shortValue)
      case (v: java.lang.Integer, _: ByteType) => Some(v.byteValue)
      case (v: java.lang.Float, _: FloatType) => Some(v.floatValue)
      case (v: java.lang.Double, _: DoubleType) => Some(v.doubleValue)
      case (b: org.apache.parquet.io.api.Binary, _: StringType) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromBytes(b.getBytes))
      case _ => None
    }

  private def catalystOrdering(dt: DataType): Option[Ordering[Any]] = dt match {
    case _: IntegerType | _: DateType => Some(Ordering.Int.on[Any](_.asInstanceOf[Int]))
    case _: LongType => Some(Ordering.Long.on[Any](_.asInstanceOf[Long]))
    case _: ShortType => Some(Ordering.Short.on[Any](_.asInstanceOf[Short]))
    case _: ByteType => Some(Ordering.Byte.on[Any](_.asInstanceOf[Byte]))
    case _: FloatType => Some(Ordering.Float.TotalOrdering.on[Any](_.asInstanceOf[Float]))
    case _: DoubleType => Some(Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double]))
    case _: StringType => Some(Ordering.comparatorToOrdering(
      (a: Any, b: Any) => a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])))
    case _ => None
  }
}

/** Non-empty files of a v2 parquet-backed relation, with the session that
  * owns the table — bridge for `graft.rpt` (the file-table scaffold is
  * `private[sql]`). Used by the rule's zero-execution footer-stats path
  * when a transfer build side reads through a v2 source; footers are read
  * with that session's Hadoop conf, not whichever session is active. */
object V2RelationFiles {
  def parquetFiles(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Option[(Seq[org.apache.spark.sql.execution.datasources.FileStatusWithMetadata],
        SparkSession)] =
    plan match {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
        r.table match {
          case t: ParquetTable =>
            Try(t.fileIndex.listFiles(Nil, Nil).flatMap(_.files)
              .filter(_.getLen > 0)).toOption.map(_ -> t.sparkSession)
          case _ => None
        }
      case _ => None
    }
}
