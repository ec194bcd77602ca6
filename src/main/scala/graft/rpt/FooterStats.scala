package graft.rpt

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, DecimalLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata, LogicalRelation}
import org.apache.spark.sql.graft.sources.V2RelationFiles
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
 * Footers come from [[ParquetFooters]]: at most
 * [[ParquetFooters.MaxSampled]] per relation, the first files by path
 * (min-of-mins/max-of-maxes over the sample — on 100 TB tables the
 * sampled range can be narrower than the true range, which
 * under-estimates keep fractions near the 0/1 clamps; the gate only
 * fires at >= the keep cap, a wide margin from typical selective
 * predicates), each opened once per JVM; IO failures degrade to None.
 */
object FooterStats extends PredicateHelper {

  /** min/max in the Catalyst-comparable domain (timestamps in micros,
    * dates in days, decimals scaled), plus the sampled null fraction. */
  private case class ColRange(min: Double, max: Double, nullFrac: Double)

  /** Estimated fraction of the leaf's rows the plan's filters keep, under
    * uniformity; None unless ALL non-trivial conjuncts are estimable
    * ranges over footer-covered columns. `IsNotNull` and `Not` conjuncts
    * are ignored (selectivity ~1), mirroring the CBO path's treatment. */
  def keepFraction(plan: LogicalPlan): Option[Double] =
    plan.collectLeaves() match {
      case Seq(lr: LogicalRelation) =>
        ParquetFooters.v1Files(lr).flatMap(rangesOf).flatMap { ranges =>
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
        ParquetFooters.v1Files(leaf)
          .orElse(V2RelationFiles.parquetFiles(leaf))
          .flatMap(rangesOf).flatMap(_.get(name)).map(r => (r.min, r.max))
      case _ => None
    }
  }

  /** Column ranges of a parquet-backed leaf's files, aggregated over the
    * sampled footers ([[ParquetFooters.sampled]]); columns with any
    * missing/unusable chunk statistics are absent from the map. */
  private def rangesOf(listing: (Seq[FileStatusWithMetadata], SparkSession))
      : Option[Map[String, ColRange]] =
    ParquetFooters.sampled(listing._1, listing._2).flatMap { sample =>
      val rows = sample.map(_._2.rows).sum
      val usable = sample.flatMap(_._2.columns).groupMap(_._1)(_._2)
        .flatMap { case (name, chunks) =>
          val rs = chunks.flatten.map(chunkRange)
          if (rs.contains(None)) None
          else {
            val (mins, maxs, nulls) = rs.flatten.unzip3
            Some(name -> ColRange(mins.foldLeft(Double.MaxValue)(math.min),
              maxs.foldLeft(Double.MinValue)(math.max),
              math.max(0.0, math.min(1.0, nulls.sum.toDouble / rows))))
          }
        }
      if (rows <= 0 || usable.isEmpty) None else Some(usable)
    }

  /** (min, max, numNulls) of one column chunk in the Catalyst-comparable
    * domain, or None when the chunk's statistics can't support a range
    * estimate (missing stats, non-numeric type, NaN bounds, binary
    * decimals, INT96). */
  private def chunkRange(st: Statistics[_]): Option[(Double, Double, Long)] = {
    if (st == null || st.isEmpty || !st.hasNonNullValue) return None
    val nulls = math.max(0L, st.getNumNulls)
    def num(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    val primitive = st.`type`()
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
