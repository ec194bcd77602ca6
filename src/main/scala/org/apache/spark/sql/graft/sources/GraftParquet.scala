package org.apache.spark.sql.graft.sources

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.connector.expressions.{FieldReference, Literal => V2Literal, LiteralValue, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.{Predicate => V2Predicate}
import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
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
 * `filter(predicates)` receives the build side's key values and drops
 * whole FILES whose footer min/max excludes every value (driver-side,
 * each footer read once per JVM — at 100 TB with ~128 MB files and a
 * key-clustered layout this skips scheduling entire task sets). Row
 * groups inside kept files are not runtime-filtered: the engine builds
 * the scan's reader factory while planning, before `filter` runs.
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
 * `filter` turns the runtime values delivered for each column into one
 * [[KeyIntervals]] set, and `partitions` drops every file whose footer
 * [min, max] on that column meets none of its intervals. The v2 contract
 * calls `filter` at most once per scan instance, before partition
 * planning; a second call with different predicates (a shared instance
 * across plan branches) conservatively DISABLES pruning rather than
 * over-prune either consumer — runtime filters only ever skip data that
 * cannot match, so "no pruning" is always correct.
 *
 * A delivered value `v` stands for the key interval `[v, end(v)]`:
 *  - an exact key, by default: `[v, v]`;
 *  - a QUANTIZED ANCHOR on an integral column with a `graft.quant.<col>
 *    = <width>` read option (injected by the RPT rule's over-cap in-scan
 *    path): `[v, v+width]`, clamped to the type's maximum. The build side
 *    quantizes its keys onto the same grid at execution, so the anchors
 *    cover every runtime build key exactly — that makes the over-cap path
 *    runtime-fresh and uncapped (the reference's scan filters are
 *    likewise built fresh per execution, physical_create_bf.cpp:282-350);
 *  - an ENVELOPE on a column with a `graft.range.<col> = 1` read option:
 *    the whole delivery stands for `[min(values), max(values)]`. The rule
 *    uses this for over-cap builds whose keys the quantized grid cannot
 *    express (VARCHAR and other non-integral orderable types): the build
 *    delivers its runtime MIN/MAX — the type-generic half of the
 *    reference's runtime min/max scan filters
 *    (physical_create_bf.cpp:131-176, rpt_optimizer.cpp:1401-1501).
 * Anchors and envelopes only widen a delivered set, so neither
 * over-prunes. Several deliveries on one column are a conjunction (e.g.
 * forward and backward transfer passes): their intervals intersect, and
 * an empty intersection legitimately prunes the whole scan.
 */
class GraftParquetScan(base: ParquetScan,
    val quantWidths: Map[String, Long] = Map.empty,
    val rangeCols: Set[String] = Set.empty)
  extends ParquetScan(base.sparkSession, base.hadoopConf, base.fileIndex,
    base.dataSchema, base.readDataSchema, base.readPartitionSchema,
    base.pushedFilters, base.options, base.pushedAggregate,
    base.partitionFilters, base.dataFilters, base.pushedVariantExtractions)
  with SupportsRuntimeV2Filtering {

  // column name -> its delivered runtime key intervals; None once a
  // conflicting second filter() call has disabled runtime pruning
  @volatile private var runtimeKeys: Option[Map[String, KeyIntervals]] =
    Some(Map.empty)
  // visible for tests/metrics: files before/after the footer prune
  @volatile var lastFilePrune: Option[(Int, Int)] = None

  private def atomic(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType |
         _: StringType | _: DateType | _: FloatType | _: DoubleType => true
    case _ => false
  }

  override def filterAttributes(): Array[NamedReference] =
    readDataSchema.fields.collect {
      case f if atomic(f.dataType) => FieldReference.column(f.name)
    }

  /** `v => v + width` for a quantized `col`: a width was declared AND the
    * column is integral (the only types the rule quantizes; a width on
    * any other type is ignored). */
  private def anchorEnd(col: String): Option[Any => Any] =
    quantWidths.get(col.toLowerCase(java.util.Locale.ROOT)).filter(_ >= 0)
      .flatMap(GraftParquetScan.plusClamped(readDataSchema(col).dataType, _))

  /** The intervals one delivery of `sorted` values stands for on `col`
    * (quant wins if an option set somehow carries both marks; the rule
    * never dual-marks). */
  private def intervalsOf(col: String, sorted: Array[Any],
      ord: Ordering[Any]): KeyIntervals = {
    val end: Any => Any = anchorEnd(col).getOrElse {
      if (rangeCols.contains(col.toLowerCase(java.util.Locale.ROOT))) {
        _ => sorted.last
      } else identity
    }
    KeyIntervals.cover(sorted, end, ord)
  }

  override def filter(predicates: Array[V2Predicate]): Unit = {
    GraftParquetScan.filterCalls.incrementAndGet()
    val parsed = predicates.flatMap(parseEqualityPredicate)
    if (parsed.isEmpty) return
    val next = parsed.groupBy(_._1).map { case (c, deliveries) =>
      val ord = GraftParquetScan.catalystOrdering(readDataSchema(c).dataType).get
      c -> deliveries.map { case (_, values) =>
        intervalsOf(c, values.sorted(ord), ord)
      }.reduce(_ intersect _)
    }
    synchronized {
      runtimeKeys = runtimeKeys match {
        case Some(current) if current.isEmpty || current == next => Some(next)
        case _ => None
      }
    }
  }

  /** `IN(col, v...)` / `col = v` with literal values on an orderable
    * column — the shapes the engine produces from a planned runtime group
    * filter. */
  private def parseEqualityPredicate(p: V2Predicate): Option[(String, Array[Any])] = {
    val col = p.children().headOption match {
      case Some(r: NamedReference) if r.fieldNames.length == 1 =>
        Some(r.fieldNames.head)
      case _ => None
    }
    col.filter(c => readDataSchema.fieldNames.contains(c) &&
        GraftParquetScan.catalystOrdering(readDataSchema(c).dataType).isDefined)
      .flatMap { c =>
        p.name() match {
          case "IN" | "=" =>
            val vals = p.children().drop(1).map {
              case l: V2Literal[_] => Some(l.value.asInstanceOf[Any])
              case _ => None
            }
            // Drop null literals (a nullable build-side join key can emit
            // them): null never equi-matches, so removing them is exact —
            // and the interval comparators are null-hostile. An all-null
            // OR EMPTY build set legitimately becomes the empty set, which
            // prunes every file (the delivered values are the build side's
            // rows; zero rows means the equi-join can match nothing — the
            // reference's empty-filter always-false,
            // physical_create_bf.cpp:289-297).
            if (vals.forall(_.isDefined))
              Some(c -> vals.flatten.filterNot(_ == null)) else None
          case _ => None
        }
      }
  }

  /** File-level prune: drop files whose footer [min,max] on a filtered
    * column meets none of its RUNTIME key intervals — and, independently,
    * files whose footer range falsifies a STATIC pushed filter (the stock
    * reader only uses pushed filters for row-group skipping inside
    * already-scheduled tasks; at 100 TB, deciding at the driver that a
    * file cannot match skips scheduling the task at all). */
  override protected def partitions: Seq[FilePartition] = {
    val base = super.partitions
    val runtime = runtimeKeys.getOrElse(Map.empty)
    val staticFilters = pushedFilters.filter(GraftParquetScan.prunable)
    if (runtime.isEmpty && staticFilters.isEmpty) return base
    val kept = base.flatMap { fp =>
      val files = fp.files.filter { f =>
        runtime.forall { case (c, keys) =>
          GraftParquetScan.fileMayOverlap(hadoopConf, f.filePath.toPath,
            f.fileSize, c, readDataSchema(c).dataType, keys)
        } &&
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

  override def description(): String = super.description() +
    (runtimeKeys match {
      case None => ", RuntimeFilters: [disabled: conflicting reuse]"
      case Some(keys) if keys.isEmpty => ""
      case Some(keys) => keys.map { case (c, k) => s"$c IN (${k.size} intervals)" }
        .mkString(", RuntimeFilters: [", ", ", "]")
    })

  // scan-reuse equality: stock field equality AND same runtime state (a
  // runtime-filtered scan is not interchangeable with an unfiltered one)
  override def equals(obj: Any): Boolean = obj match {
    case g: GraftParquetScan =>
      super.equals(g) && runtimeKeys == g.runtimeKeys &&
        quantWidths == g.quantWidths && rangeCols == g.rangeCols
    case _ => false
  }
  override def hashCode(): Int = super.hashCode()
}

/** Sorted, disjoint, closed key intervals `[lo(i), hi(i)]` of one column,
  * in the Catalyst value domain under `ord`. A set of points (exact keys)
  * keeps one array for both ends (`hi eq lo`), so an exact key costs one
  * reference, as it does in the delivered IN list. */
private[sources] final class KeyIntervals private (
    private val lo: Array[Any], private val hi: Array[Any], ord: Ordering[Any]) {

  def size: Int = lo.length

  /** Does any interval meet `[from, to]`? Binary search for the first
    * interval ending at or after `from`. */
  def overlaps(from: Any, to: Any): Boolean = {
    var l = 0; var r = lo.length
    while (l < r) {
      val m = (l + r) >>> 1
      if (ord.lt(hi(m), from)) l = m + 1 else r = m
    }
    l < lo.length && ord.lteq(lo(l), to)
  }

  /** The keys in both sets (a conjunction of two deliveries). */
  def intersect(other: KeyIntervals): KeyIntervals = {
    val b = new KeyIntervals.Builder(ord)
    var i = 0; var j = 0
    while (i < size && j < other.size) {
      b.add(ord.max(lo(i), other.lo(j)), ord.min(hi(i), other.hi(j)))
      if (ord.lt(hi(i), other.hi(j))) i += 1 else j += 1
    }
    b.result()
  }

  override def equals(obj: Any): Boolean = obj match {
    case k: KeyIntervals => lo.sameElements(k.lo) && hi.sameElements(k.hi)
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(lo.asInstanceOf[Array[AnyRef]])
}

private[sources] object KeyIntervals {

  /** The union of `[v, end(v)]` over ascending `sorted` values; `end`
    * never lies below its argument and never decreases. */
  def cover(sorted: Array[Any], end: Any => Any,
      ord: Ordering[Any]): KeyIntervals = {
    val b = new Builder(ord)
    sorted.foreach(v => b.add(v, end(v)))
    b.result()
  }

  /** Appends intervals in ascending order of `lo`, merging overlaps. */
  private final class Builder(ord: Ordering[Any]) {
    private val lo = mutable.ArrayBuffer[Any]()
    private val hi = mutable.ArrayBuffer[Any]()

    /** An empty interval (`l > h`) adds nothing. */
    def add(l: Any, h: Any): Unit =
      if (ord.lteq(l, h)) {
        if (lo.nonEmpty && ord.lteq(l, hi.last)) hi(hi.length - 1) = ord.max(hi.last, h)
        else { lo += l; hi += h }
      }

    def result(): KeyIntervals = {
      val l = lo.toArray
      val points = lo.indices.forall(i =>
        lo(i).asInstanceOf[AnyRef] eq hi(i).asInstanceOf[AnyRef])
      new KeyIntervals(l, if (points) l else hi.toArray, ord)
    }
  }
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
    * days for dates). Injected per-plan by the RPT rule's over-cap
    * in-scan path. */
  val QuantOptionPrefix = "graft.quant."
  /** Read-option prefix declaring a column's runtime IN-set as an ordered
    * ENVELOPE (`graft.range.<col> = 1`): the delivered values stand for
    * the whole range `[min, max]`. Injected per-plan by the RPT rule's
    * over-cap path for non-integral (e.g. VARCHAR) keys, whose build
    * delivers exactly its runtime min and max. */
  val RangeOptionPrefix = "graft.range."

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

  /** `v => v + w` (w >= 0) on an integral Catalyst value, clamped to the
    * type's maximum so an interval end never wraps; None for the types
    * the rule does not quantize. */
  private[sources] def plusClamped(dt: DataType, w: Long): Option[Any => Any] = {
    def plus(v: Long, max: Long): Long = if (v > max - w) max else v + w
    dt match {
      case _: ByteType => Some(v => plus(v.asInstanceOf[Byte], Byte.MaxValue).toByte)
      case _: ShortType => Some(v => plus(v.asInstanceOf[Short], Short.MaxValue).toShort)
      case _: IntegerType | _: DateType =>
        Some(v => plus(v.asInstanceOf[Int], Int.MaxValue).toInt)
      case _: LongType => Some(v => plus(v.asInstanceOf[Long], Long.MaxValue))
      case _ => None
    }
  }

  /** Footer-stats overlap: keep the file unless its [min,max] for `col`
    * meets none of the runtime key intervals. Unreadable/missing stats
    * keep the file — pruning must never turn IO trouble into wrong
    * results. */
  private def fileMayOverlap(conf: org.apache.hadoop.conf.Configuration, path: Path,
      len: Long, col: String, dt: DataType, keys: KeyIntervals): Boolean =
    fileRange(conf, path, len, col, dt).forall { case (lo, hi) =>
      keys.overlaps(lo, hi)
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
