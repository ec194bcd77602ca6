package graft.rpt

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}

/**
 * Physical-plan rule that wraps each spliced transfer probe in
 * [[AdaptiveProbe]] (the reference's `SelectivityOptionalFilter` analog —
 * see that class's scaladoc for semantics and the superset-safety
 * argument).
 *
 * The wrap happens HERE, after physical planning, and deliberately not at
 * the logical splice: a wrapped probe in the logical plan changes how
 * `FileSourceStrategy` classifies the conjunct — the bare
 * `might_contain` is excluded from the scan's `dataFilters`, but the
 * wrapped form slipped through, duplicating every build subquery into a
 * second physical instance on the `FileScan` node (measured on q35: 16
 * subquery instances for 8 logical builds, and the rule-on side paying
 * ~13% — 1.21× → 1.03× — for builds that executed twice). Rewriting
 * `FilterExec` conditions after the scan split exists leaves the logical
 * plan, scan pushdown, and subquery reuse byte-identical to the bare
 * probe; only the per-row evaluation gains the sampling latch.
 *
 * Injected on both channels, mirroring [[StripNoOpRuntimeFilters]]: as an
 * AQE query-stage optimizer rule (stage-compiled filters) and as a
 * columnar pre-transition rule (non-adaptive plans, and the physical
 * plans of build subqueries — whose own probes are equally latchable).
 * Double application is idempotent: an existing [[AdaptiveProbe]] conjunct
 * is left alone.
 *
 * Only TOP-LEVEL And-conjuncts whose root is `might_contain` are wrapped.
 * The superset-safety argument ("latching the probe to `true` can only
 * widen the filter's output") holds solely at conjunct position — a
 * `might_contain` under `NOT` or `OR` (reachable because the function is
 * SQL-registered, so a user can write `NOT might_contain(...)`) would
 * silently change results once a partition latched off. Nested occurrences
 * are therefore left bare.
 */
case class WrapAdaptiveProbes() extends Rule[SparkPlan] with PredicateHelper {

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!RptConf.adaptiveProbeDrop(conf)) return plan
    val sample = RptConf.adaptiveProbeSample(conf)
    val keep = RptConf.AdaptiveProbeKeepThreshold
    def wrapConjunct(e: Expression): Expression = e match {
      case a: AdaptiveProbe => a
      case b: BloomFilterMightContain => AdaptiveProbe(b, sample, keep)
      case other => other
    }
    plan.transform {
      case f: FilterExec
          if splitConjunctivePredicates(f.condition)
            .exists(_.isInstanceOf[BloomFilterMightContain]) =>
        val conjuncts = splitConjunctivePredicates(f.condition)
        val wrapped = conjuncts.map(wrapConjunct)
        if (wrapped.zip(conjuncts).forall { case (w, c) => w.fastEquals(c) }) f
        else f.copy(condition =
          wrapped.reduce(org.apache.spark.sql.catalyst.expressions.And))
    }
  }
}
