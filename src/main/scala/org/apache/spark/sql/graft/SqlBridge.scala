package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/**
 * Minimal bridge into `private[sql]` surface for the graft RPT rule. The
 * rule needs two things Spark offers no public API for: a planning-time
 * row count of a filtered unit (the keep measurement behind the
 * banked-filter gate — the reference instead feeds measured cardinalities
 * back from its mid-pipeline CREATE_BF builds,
 * src/operators/physical_create_bf.cpp:352-419), and building DSv2 scans
 * inside the subqueries it injects. Hence this one-file package bridge —
 * everything else in graft uses public APIs.
 */
object SqlBridge {

  private def active: SparkSession = SparkSession.active

  /** Count rows of `plan` on the active session (aggregate pushdown /
   *  column pruning apply). The caller is responsible for re-entrancy
   *  guarding (the nested execution runs the full optimizer, including the
   *  calling rule). */
  def countRows(plan: LogicalPlan): Long =
    Dataset.ofRows(active, plan).count()

  /** Build DSv2 scans inside an optimizer-injected subquery plan.
   *
   *  The RPT rule runs as a pre-CBO rule, BEFORE the optimizer's scan
   *  building converts `DataSourceV2Relation` into a plannable
   *  `DataSourceV2ScanRelation` — and the later batches never traverse
   *  into subquery expressions the rule just injected. A v1
   *  `LogicalRelation` is plannable as-is, so this never mattered until a
   *  session enables v2 file sources (spark.sql.sources.useV1SourceList)
   *  — where an untreated subquery fails physical planning with "No plan
   *  for RelationV2". Running the stock push-down rule over the subquery
   *  plan performs exactly the conversion the main plan gets later. */
  def planV2Scans(plan: LogicalPlan): LogicalPlan = {
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, V2ScanRelationPushDown}
    if (plan.exists(_.isInstanceOf[DataSourceV2Relation])) {
      V2ScanRelationPushDown(plan)
    } else plan
  }
}
