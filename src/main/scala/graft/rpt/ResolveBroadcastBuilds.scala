package graft.rpt

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, BloomFilterMightContain, BoundReference, ExprId, Expression, PlanExpression, PredicateHelper, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, BloomFilterAggregate}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{BaseSubqueryExec, ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, ScalarSubquery => ExecScalarSubquery, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, BroadcastQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.graft.BroadcastBloomBuildExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashedRelationBroadcastMode}
import org.apache.spark.sql.internal.SQLConf

/**
 * Resolves bloom-filter builds against the broadcasts the query already
 * holds — the Spark analog of the reference's CREATE_BF, which builds its
 * filter from rows the query materializes anyway and re-emits them at
 * near-zero cost (physical_create_bf.cpp:441-557). A transfer build is an
 * aggregate subquery that scans its build side a second time; when the
 * plan broadcasts that same side into a hash join, the second scan is
 * avoidable.
 *
 * An AQE query-stage preparation rule: it sees the whole plan after
 * `EnsureRequirements` has placed every `BroadcastExchangeExec` and before
 * any stage runs. A probe's build MATCHES a broadcast when
 *  - the build unit carries no semi-join reducers and is the same relation
 *    under the same filter as the broadcast child (projected columns may
 *    differ), both read as a scan-rooted Project/Filter chain — so the
 *    broadcast child holds no exchange and no stage;
 *  - its keys are the broadcast hash join's build keys;
 *  - the broadcast mode is not null-aware.
 * A matched probe takes one of two outcomes:
 *  - DROP: the matching join consumes the probe's own rows, with only
 *    other matched joins, projections and filters in between. The join
 *    performs the same semi-join exactly, so the probe conjunct is removed
 *    and its subquery never runs. The join carries the count in
 *    [[ResolveBroadcastBuilds.DroppedProbes]].
 *  - REUSE: the broadcast sits anywhere else. The subquery's plan becomes
 *    a [[BroadcastBloomBuildExec]] that reads the broadcast `HashedRelation`
 *    through the AQE stage cache — the path DPP takes in
 *    `PlanAdaptiveDynamicPruningFilters` — so it launches no scan and no
 *    job, and sizes the filter from the exact key count.
 * Every other build keeps its aggregate subquery, and non-adaptive plans
 * never reach this rule. The logical plan is not touched. If the rule
 * throws, the plan keeps its aggregate builds (fail-fast sessions rethrow).
 */
case class ResolveBroadcastBuilds() extends Rule[SparkPlan] with PredicateHelper {
  import ResolveBroadcastBuilds._

  override def apply(plan: SparkPlan): SparkPlan = {
    if (!plan.exists(p => p.isInstanceOf[FilterExec] && probesIn(p).nonEmpty)) {
      return plan
    }
    try resolve(plan)
    catch {
      case e: Exception if !RptConf.failFast(conf) =>
        logWarning(s"[graft-rpt] broadcast build resolution failed, " +
          s"keeping aggregate builds: $e")
        plan
    }
  }

  private def probesIn(p: SparkPlan): Seq[Expression] = p match {
    case f: FilterExec =>
      splitConjunctivePredicates(f.condition).filter(c => Probe.unapply(c).isDefined)
    case _ => Nil
  }

  private def resolve(plan: SparkPlan): SparkPlan = {
    val broadcasts = plan.collect { case j: BroadcastHashJoinExec => broadcastOf(j) }
      .flatten
    if (broadcasts.isEmpty) return plan
    val builds = mutable.HashMap[ExprId, Option[Build]]()
    def buildFor(s: ExecScalarSubquery): Option[Build] =
      builds.getOrElseUpdate(s.exprId, buildOf(s.plan))

    // DROP: walk down each chain of stream sides; `chain` holds the
    // broadcast hash joins above the current node, nearest first
    val absorbed = new java.util.IdentityHashMap[BroadcastHashJoinExec, Integer]()
    def dropProbes(f: FilterExec, chain: List[BroadcastHashJoinExec]): Option[Expression] = {
      val conjuncts = splitConjunctivePredicates(f.condition)
      val dropped = mutable.Set[Int]()
      val it = chain.iterator
      var open = true
      while (open && it.hasNext) {
        val j = it.next()
        val hit = conjuncts.indices.find { i =>
          !dropped(i) && (conjuncts(i) match {
            case Probe(s, probeKeys) =>
              buildFor(s).exists(b => broadcastOf(j).exists(bc =>
                b.matches(bc) && enforces(j, bc, b, probeKeys)))
            case _ => false
          })
        }
        hit match {
          case Some(i) =>
            dropped += i
            absorbed.put(j, absorbed.getOrDefault(j, 0) + 1)
          case None => open = false
        }
      }
      if (dropped.isEmpty) Some(f.condition)
      else conjuncts.indices.filterNot(dropped).map(conjuncts)
        .reduceOption(And)
    }
    def drop(p: SparkPlan, chain: List[BroadcastHashJoinExec]): SparkPlan = p match {
      case j: BroadcastHashJoinExec if filtersStream(j) =>
        val out = j.withNewChildren(j.children.map(c =>
          if (c eq streamSideOf(j)._1) drop(c, j :: chain) else drop(c, Nil)))
        Option(absorbed.get(j)).foreach(n => out.setTagValue(DroppedProbes, n.intValue))
        out
      case pr: ProjectExec => pr.withNewChildren(Seq(drop(pr.child, chain)))
      case f: FilterExec =>
        val child = drop(f.child, chain)
        dropProbes(f, chain) match {
          case Some(c) if c eq f.condition => f.withNewChildren(Seq(child))
          case Some(c) =>
            val kept = FilterExec(c, child)
            f.logicalLink.foreach(kept.setLogicalLink)
            kept
          case None => child
        }
      case other => other.withNewChildren(other.children.map(drop(_, Nil)))
    }
    val afterDrop = drop(plan, Nil)

    // REUSE: every remaining probe whose build matches some broadcast
    val reused = mutable.HashMap[ExprId, BaseSubqueryExec]()
    afterDrop.foreach(p => probesIn(p).foreach {
      case Probe(s, _) if !reused.contains(s.exprId) =>
        s.plan.getTagValue(Replacement).orElse {
          for {
            b <- buildFor(s)
            bc <- broadcasts.find(b.matches)
            r <- reuseFrom(bc, b, s.plan)
          } yield {
            s.plan.setTagValue(Replacement, r)
            r
          }
        }.foreach(r => reused(s.exprId) = r)
      case _ => ()
    })
    if (reused.isEmpty) afterDrop
    else afterDrop.transformAllExpressions {
      case s: ExecScalarSubquery if reused.contains(s.exprId) =>
        ExecScalarSubquery(reused(s.exprId), s.exprId)
    }
  }

  /** Joins that drop every stream row without a build match, so a probe
   *  below them on the stream side filters nothing they keep. */
  private def filtersStream(j: BroadcastHashJoinExec): Boolean =
    j.joinType == Inner || (j.joinType == LeftSemi && j.buildSide == BuildRight)

  /** The join semi-joins the probe's rows on exactly the probe's key pairs. */
  private def enforces(j: BroadcastHashJoinExec, bc: Broadcast, b: Build,
      probeKeys: Seq[Expression]): Boolean =
    filtersStream(j) && probeKeys.size == b.keys.size &&
      streamSideOf(j)._2.map(_.canonicalized).zip(bc.keys).toSet ==
        probeKeys.map(_.canonicalized).zip(b.keys).toSet

  /** The subquery the probe's filter is read from, rebuilt over the
   *  broadcast: before stages exist, an AQE plan over a copy of the
   *  exchange (canonically equal, so the stage cache hands back the
   *  query's own broadcast stage); once the stage exists, the stage. */
  private def reuseFrom(bc: Broadcast, b: Build, sub: BaseSubqueryExec)
      : Option[BaseSubqueryExec] = {
    if (!conf.exchangeReuseEnabled) return None
    val child: Option[SparkPlan] = bc.source match {
      case e: BroadcastExchangeExec => sub.child match {
        case aqe: AdaptiveSparkPlanExec => e.child.logicalLink.map { link =>
          val exchange = BroadcastExchangeExec(e.mode, e.child)
          exchange.setLogicalLink(link)
          aqe.copy(inputPlan = exchange)
        }
        case _ => None
      }
      case stage: BroadcastQueryStageExec => Some(stage)
      case _ => None
    }
    child.map(c => BroadcastBloomBuildExec(sub.name, sub.output.head.name,
      buildSideOf(bc.join)._2.map(_.dataType), b.keys.map(bc.keys.indexOf), c))
  }
}

object ResolveBroadcastBuilds extends PredicateHelper {

  /** On a broadcast hash join: how many transfer probes below it on its
   *  stream side were removed because the join enforces them. */
  val DroppedProbes: TreeNodeTag[Int] = TreeNodeTag[Int]("graft.rpt.droppedProbes")

  /** On an aggregate build subquery: its broadcast replacement, so AQE
   *  re-planning (which restores the original subquery) reuses one
   *  instance instead of building the filter again. */
  private val Replacement =
    TreeNodeTag[BaseSubqueryExec]("graft.rpt.broadcastBuild")

  /** A transfer probe conjunct: `might_contain(<build subquery>,
   *  xxhash64(probeKeys))`. Stage preparation runs before
   *  [[WrapAdaptiveProbes]], so the probe is still bare here. */
  private[rpt] object Probe {
    def unapply(e: Expression): Option[(ExecScalarSubquery, Seq[Expression])] = e match {
      case BloomFilterMightContain(s: ExecScalarSubquery, XxHash64(keys, 42L))
          if s.plan.output.size == 1 &&
            s.plan.output.head.name.startsWith("graft_rpt_bf") => Some((s, keys))
      case _ => None
    }
  }

  /** A scan-rooted Project/Filter chain, with its filter conjuncts and
   *  output columns rewritten onto the relation's column ordinals, so two
   *  reads of one relation compare whatever their expression ids. */
  private[rpt] case class ScanUnit(
      scan: FileSourceScanExec,
      filters: Set[Expression],
      columns: Map[ExprId, Expression]) {
    def norm(e: Expression): Option[Expression] =
      if (e.exists(_.isInstanceOf[PlanExpression[_]]) ||
          !e.references.forall(a => columns.contains(a.exprId))) None
      else Some(e.transform {
        case a: AttributeReference => columns(a.exprId)
      }.canonicalized)
    def sameRows(o: ScanUnit): Boolean =
      scan.relation == o.scan.relation && filters == o.filters
  }

  private[rpt] def unitOf(p: SparkPlan): Option[ScanUnit] = p match {
    case w: WholeStageCodegenExec => unitOf(w.child)
    case i: InputAdapter => unitOf(i.child)
    case c: ColumnarToRowExec => unitOf(c.child)
    case ProjectExec(list, child) => unitOf(child).flatMap { u =>
      val cols = list.map {
        case a: Attribute => u.columns.get(a.exprId).map(a.exprId -> _)
        case al: Alias => u.norm(al.child).map(al.exprId -> _)
        case _ => None
      }
      if (cols.forall(_.isDefined)) Some(u.copy(columns = cols.flatten.toMap))
      else None
    }
    case FilterExec(cond, child) => unitOf(child).flatMap { u =>
      val cs = splitConjunctivePredicates(cond).map(u.norm)
      if (cs.forall(_.isDefined)) Some(u.copy(filters = u.filters ++ cs.flatten))
      else None
    }
    case s: FileSourceScanExec =>
      val names = s.relation.schema.fieldNames
      val cols = s.output.map { a =>
        val i = names.indexWhere(n => SQLConf.get.resolver(n, a.name))
        a.exprId -> (BoundReference(i, a.dataType, nullable = true): Expression)
      }
      if (cols.exists(_._2.asInstanceOf[BoundReference].ordinal < 0)) None
      else {
        val u = ScanUnit(s, Set.empty, cols.toMap)
        val pf = s.partitionFilters.map(u.norm)
        if (pf.forall(_.isDefined)) Some(u.copy(filters = pf.flatten.toSet)) else None
      }
    case _ => None
  }

  /** A hash join's build side and build keys (`HashJoin` keeps them
   *  protected). */
  private[rpt] def buildSideOf(j: BroadcastHashJoinExec): (SparkPlan, Seq[Expression]) =
    if (j.buildSide == BuildLeft) (j.left, j.leftKeys) else (j.right, j.rightKeys)

  /** A hash join's stream side and stream keys. */
  private[rpt] def streamSideOf(j: BroadcastHashJoinExec): (SparkPlan, Seq[Expression]) =
    if (j.buildSide == BuildLeft) (j.right, j.rightKeys) else (j.left, j.leftKeys)

  /** A broadcast hash join's build side: the exchange (or its stage), the
   *  unit it broadcasts and the join's build keys on that unit. */
  private[rpt] case class Broadcast(
      join: BroadcastHashJoinExec, source: SparkPlan, unit: ScanUnit,
      keys: Seq[Expression])

  private[rpt] def broadcastOf(j: BroadcastHashJoinExec): Option[Broadcast] = {
    if (j.isNullAwareAntiJoin) return None
    // a reused exchange renames the original's output; map keys back
    val (buildPlan, buildKeys) = buildSideOf(j)
    val (exchange, rename) = buildPlan match {
      case e: BroadcastExchangeExec => (Some(e), Map.empty[ExprId, Attribute])
      case s: BroadcastQueryStageExec => s.plan match {
        case e: BroadcastExchangeExec => (Some(e), Map.empty[ExprId, Attribute])
        case r @ ReusedExchangeExec(_, e: BroadcastExchangeExec) =>
          (Some(e), r.output.map(_.exprId).zip(e.output).toMap)
        case _ => (None, Map.empty[ExprId, Attribute])
      }
      case _ => (None, Map.empty[ExprId, Attribute])
    }
    for {
      e <- exchange
      if (e.mode match {
        case m: HashedRelationBroadcastMode => !m.isNullAware
        case _ => false
      })
      u <- unitOf(e.child)
      keys = buildKeys.map(_.transform {
        case a: AttributeReference if rename.contains(a.exprId) => rename(a.exprId)
      }).map(u.norm(_))
      if keys.forall(_.isDefined)
    } yield Broadcast(j, buildPlan, u, keys.flatten)
  }

  /** An aggregate build: `bloom_filter_agg(xxhash64(keys), n)` over one
   *  unit, possibly split into partial and final aggregates. */
  private[rpt] case class Build(unit: ScanUnit, keys: Seq[Expression]) {
    def matches(bc: Broadcast): Boolean =
      bc.unit.sameRows(unit) && keys.size == bc.keys.size &&
        keys.distinct.size == keys.size && keys.toSet == bc.keys.toSet
  }

  private[rpt] def buildOf(sub: BaseSubqueryExec): Option[Build] = {
    def bloomKeys(a: BaseAggregateExec): Option[Seq[Expression]] =
      a.aggregateExpressions match {
        case Seq(AggregateExpression(BloomFilterAggregate(XxHash64(keys, 42L), _, _, _, _),
            _, _, _, _)) if a.groupingExpressions.isEmpty => Some(keys)
        case _ => None
      }
    def strip(p: SparkPlan, keys: Option[Seq[Expression]])
        : Option[(SparkPlan, Seq[Expression])] = p match {
      case a: BaseAggregateExec => bloomKeys(a).flatMap(k => strip(a.child, Some(k)))
      case e: ShuffleExchangeExec => strip(e.child, keys)
      case other => keys.map(other -> _)
    }
    val root = sub.child match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    for {
      (unitPlan, rawKeys) <- strip(root, None)
      u <- unitOf(unitPlan)
      keys = rawKeys.map(u.norm)
      if keys.forall(_.isDefined)
    } yield Build(u, keys.flatten)
  }

  /** Transfer probes the plan dropped because a broadcast hash join above
   *  them enforces the same semi-join (walks AQE wrappers and stages). */
  def droppedProbes(plan: SparkPlan): Int = {
    var n = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        n += other.getTagValue(DroppedProbes).getOrElse(0)
        other.children.foreach(walk)
    }
    walk(plan)
    n
  }
}
