package org.apache.spark.sql.execution.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, BoundReference, Expression, UnsafeProjection, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.execution.{BaseSubqueryExec, SparkPlan, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.joins.{HashedRelation, HashJoin, LongHashedRelation}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/**
 * A transfer build read from a broadcast hash join's `HashedRelation`,
 * in the process that plans the query, with no task: each distinct join
 * key is hashed with the probe's own `xxhash64` (seed 42) into a
 * `bloom_filter_agg` buffer sized from the exact key count, and the serialized filter is the subquery's one value —
 * the bits an aggregate build over the same non-null keys would set at
 * that size. `keyTypes` are the join's build-key types in join order;
 * `keyOrder` gives, for each probe key, its position among them.
 * `LongHashedRelation` packs integral keys into one long; as in
 * `SubqueryBroadcastExec`, `HashJoin.extractKeyExprAt` unpacks them.
 * Rows with a null key are not in the relation; they can join nothing.
 *
 * It lives in Spark's execution package because `HashedRelation` is
 * package-private there; the rule that plans it is
 * `graft.rpt.ResolveBroadcastBuilds`.
 */
case class BroadcastBloomBuildExec(
    name: String,
    outputName: String,
    keyTypes: Seq[DataType],
    keyOrder: Seq[Int],
    child: SparkPlan) extends BaseSubqueryExec with UnaryExecNode {

  // a plain field, not a constructor expression: the plan's references
  // must stay within its child's output
  override lazy val output: Seq[Attribute] =
    Seq(AttributeReference(outputName, BinaryType, nullable = true)())

  override lazy val metrics = Map(
    "dataSize" -> SQLMetrics.createSizeMetric(sparkContext, "data size"),
    "collectTime" -> SQLMetrics.createTimingMetric(sparkContext, "time to build"))

  @transient private lazy val bloomFilter: Any = {
    val executionId = sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    val t0 = System.nanoTime()
    val relation = child.executeBroadcast[HashedRelation]().value.asReadOnlyCopy()
    val bound = keyTypes.zipWithIndex.map { case (t, i) =>
      BoundReference(i, t, nullable = true): Expression
    }
    val keys = relation match {
      case _: LongHashedRelation => keyOrder.map(HashJoin.extractKeyExprAt(bound, _))
      case _ => keyOrder.map(bound)
    }
    val hash = UnsafeProjection.create(Seq(XxHash64(keys, 42L)))
    val hashes = relation.keys().map(k => hash(k).getLong(0)).toArray
    val value = SQLConf.withExistingConf(conf) {
      val items = math.max(1L, math.min(hashes.length.toLong,
        conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)))
      val agg = new BloomFilterAggregate(BoundReference(0, LongType, nullable = false), items)
      val buffer = agg.createAggregationBuffer()
      hashes.foreach(h => agg.update(buffer, InternalRow(h)))
      agg.eval(buffer)
    }
    longMetric("collectTime") += (System.nanoTime() - t0) / 1000000
    longMetric("dataSize") += (value match {
      case b: Array[Byte] => b.length.toLong
      case _ => 0L
    })
    SQLMetrics.postDriverMetricUpdates(sparkContext, executionId, metrics.values.toSeq)
    value
  }

  override def executeCollect(): Array[InternalRow] = Array(InternalRow(bloomFilter))

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "BroadcastBloomBuildExec is a scalar subquery; it is only collected")

  override protected def doCanonicalize(): SparkPlan =
    copy(name = "graft_bf", outputName = "graft_bf", child = child.canonicalized)

  override protected def withNewChildInternal(newChild: SparkPlan): BroadcastBloomBuildExec =
    copy(child = newChild)
}
