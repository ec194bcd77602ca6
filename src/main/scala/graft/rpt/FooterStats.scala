package graft.rpt

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._

/**
 * Planning-time selectivity estimates for simple range predicates from
 * parquet footer column min/max statistics — the zero-execution stats
 * source of the keep-fraction build gate (see
 * [[RptConf.MaxBuildKeepFraction]]). The reference's host computes
 * filter selectivities from table statistics for the same payoff decision
 * (its `estimated_cardinality` flows out of the catalog for free,
 * table_manager.cpp:64-69); footer min/max plus a uniform-distribution
 * assumption — the classic System R estimator — is the Spark-native
 * equivalent for path-based parquet reads, where neither CBO column stats
 * nor a planning-time count is available on the default path.
 *
 * Estimates are deliberately one-sided: [[keepFraction]] returns a value
 * ONLY when every non-trivial conjunct of the unit's filter is an
 * estimable range (`attr <op> literal` on a numeric/date/timestamp/
 * int-backed-decimal column). Any unestimable conjunct — an equality, IN,
 * LIKE, OR, a cast-wrapped column — makes the whole filter unestimable
 * and the gate stands OFF, because such a conjunct could carry the
 * selectivity the range lacks. Mis-estimating can therefore only cost a
 * missed stand-down, never a lost transfer on a genuinely selective
 * build.
 *
 * Bounded like [[ParquetRowCounts]]: at most [[MaxFooters]] footers read
 * per relation (min-of-mins/max-of-maxes over the sample — on 100 TB
 * tables the sampled range can be narrower than the true range, which
 * under-estimates keep fractions near the 0/1 clamps; the gate only
 * fires at >= the keep cap, a wide margin from typical selective
 * predicates), cached by file set, IO failures degrade to None.
 */
object FooterStats extends PredicateHelper {

  private val MaxFooters = 8

  /** min/max in the Catalyst-comparable domain (timestamps in micros,
    * dates in days, decimals scaled), plus the sampled null fraction. */
  private case class ColRange(min: Double, max: Double, nullFrac: Double)

  private val cache =
    new ConcurrentHashMap[Seq[(String, Long)], Map[String, ColRange]]()

  /** Visible for tests: drop cached ranges. */
  def invalidate(): Unit = cache.clear()

  /** Estimated fraction of the leaf's rows the plan's filters keep, under
    * uniformity; None unless ALL non-trivial conjuncts are estimable
    * ranges over footer-covered columns. `IsNotNull` and `Not` conjuncts
    * are ignored (selectivity ~1), mirroring the CBO path's treatment. */
  def keepFraction(plan: LogicalPlan): Option[Double] =
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) =>
        rangesFor(lr).flatMap { ranges =>
          val attrById = lr.output.map(a => a.exprId -> a.name).toMap
          val conjuncts = plan.collect {
            case Filter(c, _) => splitConjunctivePredicates(c)
          }.flatten.filter {
            case _: IsNotNull => false
            case _: Not => false
            case _ => true
          }
          val sels = conjuncts.map(estimate(_, attrById, ranges))
          if (conjuncts.isEmpty || sels.exists(_.isEmpty)) None
          else Some(math.min(1.0, sels.flatten.product))
        }
      case _ => None
    }

  /** Selectivity of one conjunct, or None if it is not a bare
    * `attr <op> literal` range over a footer-covered column. */
  private def estimate(
      e: Expression,
      attrById: Map[ExprId, String],
      ranges: Map[String, ColRange]): Option[Double] = {

    def litValue(l: Literal): Option[Double] = (l.dataType, l.value) match {
      case (_, null) => None
      case (_: NumericType, d: Decimal) => Some(d.toDouble)
      case (_: NumericType, n: java.lang.Number) => Some(n.doubleValue())
      case (DateType, d: java.lang.Integer) => Some(d.toDouble)
      case (TimestampType | TimestampNTZType, t: java.lang.Long) =>
        Some(t.toDouble)
      case _ => None
    }

    def colRange(a: Expression): Option[ColRange] = a match {
      case ar: AttributeReference =>
        attrById.get(ar.exprId).flatMap(ranges.get)
      case _ => None
    }

    // fraction kept by `col > v` (keepAbove) / `col < v`; the <= / >=
    // variants share the estimate — a single point has measure ~0 under
    // the continuous-uniform assumption
    def frac(r: ColRange, keepAbove: Boolean, v: Double): Option[Double] =
      if (!(r.max > r.min)) None // degenerate or NaN range: can't tell
      else {
        val s = if (keepAbove) (r.max - v) / (r.max - r.min)
        else (v - r.min) / (r.max - r.min)
        Some(math.max(0.0, math.min(1.0, s)) * (1.0 - r.nullFrac))
      }

    def est(a: Expression, l: Literal, keepAbove: Boolean): Option[Double] =
      for {
        r <- colRange(a)
        v <- litValue(l)
        f <- frac(r, keepAbove, v)
      } yield f

    e match {
      case GreaterThan(a, l: Literal) => est(a, l, keepAbove = true)
      case GreaterThanOrEqual(a, l: Literal) => est(a, l, keepAbove = true)
      case LessThan(a, l: Literal) => est(a, l, keepAbove = false)
      case LessThanOrEqual(a, l: Literal) => est(a, l, keepAbove = false)
      case GreaterThan(l: Literal, a) => est(a, l, keepAbove = false)
      case GreaterThanOrEqual(l: Literal, a) => est(a, l, keepAbove = false)
      case LessThan(l: Literal, a) => est(a, l, keepAbove = true)
      case LessThanOrEqual(l: Literal, a) => est(a, l, keepAbove = true)
      case _ => None
    }
  }

  /** Footer [min, max] of `attr`'s column on the parquet-backed leaf that
    * owns it (v1 `LogicalRelation` or a v2 parquet relation), in the
    * Catalyst-comparable double domain (timestamps in micros, dates in
    * days). Zero-execution — this is what sizes the over-cap quantization
    * grid ([[RptConf.V2_QUANTIZED_OVER_CAP]]), where the range only sets
    * RESOLUTION and staleness cannot affect correctness. None when no
    * single leaf owns the attribute, the leaf isn't parquet-backed, or
    * the column's chunk statistics are unusable. */
  def columnRange(plan: LogicalPlan, attr: AttributeReference)
      : Option[(Double, Double)] = {
    val leaves = plan.collectLeaves()
      .filter(_.output.exists(_.exprId == attr.exprId))
    leaves match {
      case Seq(leaf) =>
        val name = leaf.output.find(_.exprId == attr.exprId).get.name
        val ranges = leaf match {
          case lr: LogicalRelation => rangesFor(lr)
          case other =>
            org.apache.spark.sql.graft.sources.V2RelationFiles
              .parquetFiles(other).flatMap { case (files, session) =>
                rangesForFiles(files.filter(_.getLen > 0),
                  session.sessionState.newHadoopConf())
              }
        }
        ranges.flatMap(_.get(name)).map(r => (r.min, r.max))
      case _ => None
    }
  }

  /** Column ranges of a parquet-backed leaf, aggregated over up to
    * [[MaxFooters]] file footers; columns with any missing/unusable chunk
    * statistics are absent from the map. */
  private def rangesFor(lr: LogicalRelation): Option[Map[String, ColRange]] =
    lr.relation match {
      case fs: HadoopFsRelation
          if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        val files = Try(fs.location.listFiles(Nil, Nil).flatMap(_.files))
          .getOrElse(Seq.empty)
          .filter(_.getLen > 0)
        rangesForFiles(files, fs.sparkSession.sessionState.newHadoopConf())
      case _ => None
    }

  private def rangesForFiles(
      files: Seq[FileStatusWithMetadata],
      conf: org.apache.hadoop.conf.Configuration)
      : Option[Map[String, ColRange]] = {
        if (files.isEmpty) return None
        Option(cache.computeIfAbsent(ParquetRowCounts.fileSetKey(files),
          _ => Try {
          val sample = files.sortBy(_.getPath.toString).take(MaxFooters)
          // per column: (min, max, nulls, usable)
          val acc = scala.collection.mutable.Map[String,
            (Double, Double, Long, Boolean)]()
          var rows = 0L
          sample.foreach { f =>
            val reader = ParquetFileReader.open(
              HadoopInputFile.fromPath(f.getPath, conf))
            try {
              reader.getFooter.getBlocks.asScala.foreach { b =>
                rows += b.getRowCount
                b.getColumns.asScala.foreach { c =>
                  val name = c.getPath.toDotString
                  val cur = acc.getOrElse(name,
                    (Double.MaxValue, Double.MinValue, 0L, true))
                  acc(name) = chunkRange(c) match {
                    case Some((mn, mx, nulls)) if cur._4 =>
                      (math.min(cur._1, mn), math.max(cur._2, mx),
                        cur._3 + nulls, true)
                    case _ => (0d, 0d, 0L, false)
                  }
                }
              }
            } finally reader.close()
          }
          if (rows <= 0) Map.empty[String, ColRange]
          else acc.collect {
            case (name, (mn, mx, nulls, true)) =>
              name -> ColRange(mn, mx,
                math.max(0.0, math.min(1.0, nulls.toDouble / rows)))
          }.toMap
        }.getOrElse(Map.empty))).filter(_.nonEmpty)
  }

  /** (min, max, numNulls) of one column chunk in the Catalyst-comparable
    * domain, or None when the chunk's statistics can't support a range
    * estimate (missing stats, non-numeric type, NaN bounds, binary
    * decimals, INT96). */
  private def chunkRange(c: ColumnChunkMetaData): Option[(Double, Double, Long)] = {
    val st: Statistics[_] = c.getStatistics
    if (st == null || st.isEmpty || !st.hasNonNullValue) return None
    val nulls = math.max(0L, st.getNumNulls)
    def num(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    val primitive = c.getPrimitiveType
    // factor into the Catalyst domain: dates stay in days, timestamps
    // normalize to MICROS (the fixture writer emits millis), int-backed
    // decimals divide out the scale
    val factor: Option[Double] = primitive.getPrimitiveTypeName match {
      case INT32 | INT64 => primitive.getLogicalTypeAnnotation match {
        case null => Some(1.0)
        case _: IntLogicalTypeAnnotation => Some(1.0)
        case _: DateLogicalTypeAnnotation => Some(1.0)
        case ts: TimestampLogicalTypeAnnotation => ts.getUnit match {
          case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000.0)
          case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1.0)
          case LogicalTypeAnnotation.TimeUnit.NANOS => Some(0.001)
        }
        case dec: DecimalLogicalTypeAnnotation =>
          Some(math.pow(10.0, -dec.getScale))
        case _ => None
      }
      case FLOAT | DOUBLE => Some(1.0)
      case _ => None
    }
    for {
      f <- factor
      mn <- num(st.genericGetMin())
      mx <- num(st.genericGetMax())
      if !mn.isNaN && !mx.isNaN
    } yield (mn * f, mx * f, nulls)
  }
}
