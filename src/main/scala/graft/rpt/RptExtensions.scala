package graft.rpt

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.BooleanType

import graft.functions.{Hash60, MinHash8, RepStats, ShingleHashes60, SimHash48, VectorDot}

/**
 * Session-extension entry point — the analog of the reference's extension
 * load hook (src/rpt_extension.cpp:44-69). Register with
 * `spark.sql.extensions=graft.rpt.RptExtensions` or
 * `SparkSession.builder().withExtensions(new RptExtensions)`.
 *
 * The rule is injected as an operator-optimization rule so it observes a
 * plan with filters already pushed and joins already ordered — the same
 * placement as the reference's OptimizerExtension (after DuckDB's own
 * optimizer, rpt_optimizer.cpp:1702-1722). An internal guard keeps it
 * idempotent across fixed-point iterations.
 */
class RptExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // preCBO = a run-ONCE batch after the operator-optimization fixed
    // point (same late placement as Spark's own InjectRuntimeFilter, and
    // the analog of the reference's post-optimizer hook,
    // rpt_optimizer.cpp:1702-1722). Inside the fixed-point batch the
    // spliced subquery plans would be re-optimized on every iteration —
    // pure planning overhead; here they are visited once and then merged
    // by MergeScalarSubqueries, which runs after preCBO rules.
    ext.injectPreCBORule(_ => PredicateTransferRule())
    // stage-level cleanup of DynamicPruningExpression(true) residues on v2
    // scans (left by PlanAdaptiveDynamicPruningFilters when a stock
    // onlyInBroadcast group filter finds no broadcast to reuse): each one
    // is a no-op that logs a WARN per scan per execution
    ext.injectQueryStageOptimizerRule(_ => StripNoOpRuntimeFilters())
    // the same residues arise WITHOUT AQE (PlanDynamicPruningFilters
    // degrades identically), where query-stage rules never run; columnar
    // pre-transition rules run in QueryExecution.preparations AFTER
    // dynamic-pruning planning on both paths, so this catches the
    // non-adaptive plans (e.g. the fuzz suites run AQE-off). The rule is
    // idempotent — double application under AQE strips nothing twice.
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions
          : org.apache.spark.sql.catalyst.rules.Rule[
            org.apache.spark.sql.execution.SparkPlan] =
        StripNoOpRuntimeFilters()
    })
    // bloom builds over a side the plan already broadcasts: drop the probe
    // its own hash join enforces, or build the filter from the broadcast
    // relation instead of scanning the side again (see the rule's
    // scaladoc). A stage-preparation rule, so it sees every broadcast
    // exchange of the plan before any stage runs; non-adaptive plans keep
    // their aggregate builds.
    ext.injectQueryStagePrepRule(_ => ResolveBroadcastBuilds())
    // within-query adaptive probe drop: wrap spliced might_contain probes
    // at PHYSICAL planning (a logical wrap duplicated every build subquery
    // into the scan's dataFilters — see WrapAdaptiveProbes scaladoc).
    // Same dual-channel pattern as the strip rule: query-stage rule for
    // AQE-compiled stages, columnar pre-transition for non-adaptive plans
    // and subquery plans; wrap() is idempotent across both.
    ext.injectQueryStageOptimizerRule(_ => WrapAdaptiveProbes())
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions
          : org.apache.spark.sql.catalyst.rules.Rule[
            org.apache.spark.sql.execution.SparkPlan] =
        WrapAdaptiveProbes()
    })
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, "graft_dot"),
      (children: Seq[Expression]) => VectorDot(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_hash60"),
      new ExpressionInfo(classOf[Hash60].getName, "graft_hash60"),
      (children: Seq[Expression]) => Hash60(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash48"),
      new ExpressionInfo(classOf[SimHash48].getName, "graft_simhash48"),
      (children: Seq[Expression]) => SimHash48(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash8"),
      new ExpressionInfo(classOf[MinHash8].getName, "graft_minhash8"),
      (children: Seq[Expression]) => MinHash8(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_repstats"),
      new ExpressionInfo(classOf[RepStats].getName, "graft_repstats"),
      (children: Seq[Expression]) => RepStats(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles60"),
      new ExpressionInfo(classOf[ShingleHashes60].getName, "graft_shingles60"),
      // optional second arg: mod-P reduction (default true, the minhash
      // convention); FALSE keeps full 60-bit hashes (shingle-join ops)
      (children: Seq[Expression]) => ShingleHashes60(children.head,
        children.drop(1).headOption.forall {
          case Literal(b: Boolean, BooleanType) => b
          case other => throw new IllegalArgumentException(
            s"graft_shingles60: second argument must be a BOOLEAN literal, got $other")
        })))
  }
}
