package graft.rpt

import java.util.{IdentityHashMap => JIdentityHashMap}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{BloomFilterAggregate, Max, Min}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.SqlBridge
import org.apache.spark.sql.internal.SQLConf

/**
 * Robust Predicate Transfer as a Catalyst rule.
 *
 * For every [[ScheduledOp]] the rule splices
 * {{{
 *   Filter(BloomFilterMightContain(
 *            GetStructField(ScalarSubquery(
 *              Aggregate(Nil, struct(bloom_filter_agg(xxhash64(buildKeys)),
 *                                    min(k), max(k), ...),
 *                        <build unit plan AS FILTERED BY EARLIER OPS>)), i),
 *            XxHash64(probeKeys)),
 *          <probe unit plan>)
 * }}}
 * above the probe-side table unit. Building each stage's subquery over the
 * already-filtered build side is what makes the transfer transitive — the
 * Spark equivalent of the reference's stacked CREATE_BF/USE_BF operators
 * with pipeline dependencies (src/operators/physical_create_bf.cpp:559-613).
 *
 * Consecutive ops that build from the same unit are merged into ONE
 * subquery returning a struct (one scan builds several bloom filters —
 * the reference's BuildStackedBFOperators, rpt_optimizer.cpp:1164-1265).
 * Min/max bounds ride in the same struct and become range predicates on
 * the probe side (reference's min/max dynamic filters,
 * src/operators/physical_create_bf.cpp:82-176).
 *
 * Execution-model notes (SURVEY.md §3): the subquery runs once (partial
 * bloom-filter aggregates per task, merged at a single final aggregate) and
 * its result is broadcast to every executor evaluating the filter. Spark's
 * ReuseSubquery dedupes the repeated subquery instances that arise when one
 * build feeds several probes. Under AQE, a build over a side the physical
 * plan already broadcasts does not re-scan it: [[ResolveBroadcastBuilds]]
 * drops the probe when the broadcast hash join above it enforces the same
 * semi-join, and otherwise reads the filter from the broadcast relation.
 * This rule's logical plan is the same either way.
 */
case class PredicateTransferRule() extends Rule[LogicalPlan]
    with PredicateHelper {
  import PredicateTransferRule.GraftRelation

  // alias prefix marks our subqueries (idempotence guard); the _fwd/_bwd
  // suffix lets profiling roll up selectivity per pass, like the
  // reference's per-pass reports (rpt_profiling.hpp:122-216)
  private val SUBQ_ALIAS = "graft_rpt_bf"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!RptConf.enabled(conf)) return plan
    RptConf.requireDeclared(conf)
    if (!plan.resolved || plan.isStreaming ||
        PredicateTransferRule.inNestedExecution || alreadyApplied(plan)) {
      return plan
    }
    // fail-safe: an optimization is never worth failing the user's query.
    // Any defect surfacing on an exotic plan shape degrades to a warning
    // and the original plan (failFast=true in tests surfaces it instead).
    // IllegalArgumentException stays fatal: that is the conf-validation
    // contract (unknown setting values must raise, not fall through).
    try rewrite(plan)
    catch {
      case e: Exception if !e.isInstanceOf[IllegalArgumentException] &&
          !RptConf.failFast(conf) =>
        logWarning(s"[graft-rpt] rewrite failed, leaving plan unchanged: $e")
        plan
    }
  }

  private def rewrite(plan: LogicalPlan): LogicalPlan = {
    val graph = JoinGraph.extract(plan)
    if (graph.edges.size < RptConf.minEdges(conf)) return plan
    val deepPlanEdges = RptConf.deepPlanEdges(conf)
    // planning-time total-work floor (RptConf.MIN_PLAN_WORK_BYTES): a
    // query whose estimated total scan volume sits under the floor plans
    // no transfers at all — exit before paying for schedule construction,
    // like the whole-plan broadcast bail below. Plans carrying a
    // runtime-filterable v2 relation proceed regardless: the in-scan
    // pruning paths are exempt from the floor (file skipping pays at
    // every scale), so their ops must still be scheduled.
    if (RptConf.waveCostBytes(conf) > 0) {
      val planScanBytes: BigInt =
        plan.collectLeaves().map(_.stats.sizeInBytes).sum
      val hasV2 = plan.exists {
        case GraftRelation(_) => true
        case _ => false
      }
      if (planScanBytes < RptConf.minPlanWorkBytes(conf) && !hasV2 &&
          // deep graphs are never fast-bailed: reductions compound through
          // every downstream join, and multi-alias self-join topologies
          // explode far past their file bytes (the budget's deep-plan
          // minimum handles them — see applyOps)
          graph.edges.size < deepPlanEdges) {
        return plan
      }
    }
    // whole-plan broadcast bail: when EVERY join's smaller input sits
    // within the AQE conversion margin on a shallow graph, every op the
    // schedule could emit would be gated anyway — exit before paying for
    // schedule construction and per-op gating (measured: rule-on planning
    // on 3–4-join broadcast-regime queries dropped from ~100–500 ms to
    // the graph-extraction cost, the 5–10% "rule tax" those sub-second
    // queries showed with zero injected probes)
    val bcCeiling = broadcastCeiling(graph, deepPlanEdges)
    if (bcCeiling.exists { ceiling =>
          // a unit big enough for the probe-volume bypass means some op
          // may transfer regardless of join strategy — don't bail
          // wholesale (the bypass also needs the half-depth floor, see
          // the op gate)
          (graph.edges.size < deepPlanEdges / 2 ||
            graph.units.forall(_.card < RptConf.DeepPlanProbeRows)) &&
          graph.edges.forall(e =>
            convertsToBroadcast(graph, e.a, e.b, ceiling))
        }) {
      return plan
    }
    val ops = RptConf.heuristic(conf) match {
      case "joinOrder" => TransferSchedule.joinOrder(graph,
        RptConf.passMode(conf), RptConf.flipRoots(conf))
      case _ => TransferSchedule.largestRoot(graph, RptConf.passMode(conf))
    }
    if (ops.isEmpty) return plan
    if (RptConf.displayDag(conf)) {
      logInfo(s"[graft-rpt] transfer schedule:\n${DagPrinter.render(graph, ops)}")
    }
    // the schedule travels with the plan; an input plan the ops left
    // unchanged may be shared with other queries, so a copy carries it
    val rewritten = applyOps(plan, graph, ops, deepPlanEdges, bcCeiling) match {
      case same if same eq plan => plan.clone()
      case changed => changed
    }
    rewritten.setTagValue(PredicateTransferRule.ScheduleTag, (graph, ops))
    if (RptConf.displayPhysicalDag(conf)) {
      logInfo(s"[graft-rpt] rewritten plan:\n${rewritten.treeString}")
    }
    rewritten
  }

  /** Idempotence guard: our injected subqueries are recognizable by the
   *  aggregate alias. Runs-per-fixpoint-iteration safe. */
  private def alreadyApplied(plan: LogicalPlan): Boolean = {
    plan.exists { node =>
      node.expressions.exists(_.exists {
        case ss: ScalarSubquery => ss.plan match {
          case Aggregate(_, Seq(a: Alias), _, _) =>
            a.name.startsWith(SUBQ_ALIAS)
          case _ => false
        }
        case _ => false
      })
    }
  }

  /** The size at or under which a join's smaller input is taken to run
   *  as a broadcast join — autoBroadcastJoinThreshold widened by
   *  [[RptConf.BroadcastConversionMargin]] — or None when the broadcast
   *  skip does not apply: gate off, broadcast joins off, or a deep graph
   *  (see the op gate in applyOps). Computed once per query; shared by
   *  the whole-plan bail and the per-op gate. */
  private def broadcastCeiling(graph: JoinGraph,
      deepPlanEdges: Int): Option[BigInt] =
    if (RptConf.skipBroadcastableBuilds(conf) &&
        conf.autoBroadcastJoinThreshold > 0 &&
        graph.edges.size < deepPlanEdges) {
      Some((BigDecimal(conf.autoBroadcastJoinThreshold) *
        RptConf.BroadcastConversionMargin).toBigInt)
    } else None

  /** Whether the join between units `a` and `b` runs as a broadcast join:
   *  whichever input is smaller gets broadcast, so its planning-time size
   *  decides. */
  private def convertsToBroadcast(graph: JoinGraph, a: Int, b: Int,
      ceiling: BigInt): Boolean =
    graph.units(a).plan.stats.sizeInBytes
      .min(graph.units(b).plan.stats.sizeInBytes) <= ceiling

  private def applyOps(
      plan: LogicalPlan,
      graph: JoinGraph,
      ops: Seq[ScheduledOp],
      deepPlanEdges: Int,
      bcCeiling: Option[BigInt]): LogicalPlan = {
    val filterType = RptConf.filterType(conf)
    val withBf = filterType != "minmaxOnly"
    val withMinmax = filterType != "bfOnly"
    val maxItems = RptConf.maxBfItems(conf)
    val defaultItems = RptConf.defaultBfItems(conf)

    // per-unit accumulated probe conditions
    val pendingConds = mutable.HashMap[Int, mutable.ArrayBuffer[Expression]]()

    // Build form: per-unit reduced VIEW = unit plan ⋉ the reduced views of
    // its already-scheduled build sides — a self-contained LeftSemi tree
    // over base table units. No view nests another's subquery, so ALL
    // builds execute in parallel: the Spark analog of the reference's
    // pipeline-dependency DAG executing CREATE_BFs as their inputs become
    // ready (physical_create_bf.cpp:559-613). `members` guards against
    // embedding one unit twice in a tree (diamond-shaped DAG schedules),
    // which would duplicate ExprIds across two sides of a join.
    case class Reduced(
        unit: TableUnit,
        semis: Vector[(LogicalPlan, Expression)],
        members: Set[Int]) {
      /** Self-contained plan outputting (at least) `needed`'s attributes,
       *  with each leaf scan pruned to the columns its joins require. */
      def materialize(needed: Seq[Expression]): LogicalPlan = {
        val leftNeeded = AttributeSet(needed.flatMap(_.references)) ++
          AttributeSet(semis.flatMap(_._2.references))
        val unitPlan = unit.plan
        val kept = unitPlan.output.filter(leftNeeded.contains)
        val base: LogicalPlan =
          if (kept.isEmpty || kept.size == unitPlan.output.size) unitPlan
          else Project(kept, unitPlan)
        semis.foldLeft(base) { case (acc, (rightPlan, cond)) =>
          // the reducer side is key-projected and gate-bounded: hint it
          // broadcast so the build subquery stays a single scan stage
          // instead of paying shuffle rounds of its own (its size bound is
          // the same order as the bloom filter it produces)
          Join(acc, rightPlan, LeftSemi, Some(cond),
            JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST)))))
        }
      }
    }
    val reduced = mutable.HashMap[Int, Reduced]() ++
      graph.units.map(u => u.id -> Reduced(u, Vector.empty, Set(u.id)))
    // Reduced views at the end of the forward pass. Backward-pass builds
    // read THESE rather than the fully-reduced views: a less-filtered build
    // side yields a superset bloom filter — always correct, marginally
    // less selective — and caps plan growth at polynomial (full fwd+bwd
    // embedding is exponential in join-tree depth).
    lazy val fwdReduced = mutable.HashMap[Int, Reduced]()
    var inBackward = false

    // One plain single-alias Aggregate subquery per value (bloom filter /
    // min / max). This is exactly the shape Catalyst's MergeScalarSubqueries
    // understands, so consecutive CREATEs over the same build side merge
    // into one scan automatically — the Spark-native equivalent of the
    // reference's BuildStackedBFOperators (rpt_optimizer.cpp:1164-1265).
    def scalarAgg(expr: Expression, buildPlan: LogicalPlan,
        keys: Seq[Expression], forward: Boolean): ScalarSubquery = {
      val needed = AttributeSet(keys.flatMap(_.references))
      val projected = Project(buildPlan.output.filter(needed.contains), buildPlan)
      val alias = SUBQ_ALIAS + (if (forward) "_fwd" else "_bwd")
      // v2 file sources: build the scans now — later optimizer batches
      // don't traverse freshly-injected subquery expressions (SqlBridge
      // scaladoc); a v1 LogicalRelation passes through untouched
      ScalarSubquery(SqlBridge.planV2Scans(
        Aggregate(Nil, Seq(Alias(expr, alias)()), projected)))
    }

    // The reference's backward-pass broadcast optimization: ONE bloom
    // filter per (build unit, keys, pass), probed by every member of the
    // join-key equivalence class (rpt_optimizer.cpp:1070-1158). Sharing
    // the same ScalarSubquery EXPRESSION (same exprId) across probes is
    // what guarantees one execution — AQE's subquery map is keyed by
    // exprId, and relying on post-hoc ReuseSubquery canonicalization was
    // measured NOT to fire across separately-instantiated subqueries.
    // Cache hits return the build as of the class's FIRST op (the highest
    // ancestor's snapshot) — a superset filter, always correct.
    val subqCache = mutable.HashMap[(Int, String, Boolean, String),
      ScalarSubquery]()

    def sharedScalarAgg(kind: String, mkExpr: => Expression,
        buildPlan: => LogicalPlan, keys: Seq[Expression], forward: Boolean,
        buildId: Int): ScalarSubquery = {
      val key = (buildId,
        keys.map(_.canonicalized.toString).mkString(";"), forward, kind)
      subqCache.getOrElseUpdate(key,
        scalarAgg(mkExpr, buildPlan, keys, forward))
    }

    // cost gates (see RptConf scaladoc): build only over selectively
    // filtered units, skip builds that would broadcast anyway, don't
    // build over huge ones.
    val minProbeRows = RptConf.minProbeRows(conf).toDouble
    val maxBuildRows = RptConf.maxBuildRows(conf).toDouble
    val buildProbeRatio = RptConf.minBuildProbeRatio(conf)
    // probe-relative admission (RptConf.BIG_BUILD_PROBE_FRACTION): the
    // absolute cap is the unconditional floor; a bigger build is admitted
    // iff the probe dwarfs it, because the probe amortizes the second
    // build scan and the bigger filter. Restores the sf10 q27 1.73× win
    // at sf100, where the absolute cap alone gated every strong reducer
    // and left the query paying probe overhead for nothing (0.87×).
    // SHUFFLE REGIME ONLY, by measurement at sf100 (RPTBENCH_r13 part 2):
    // with broadcast joins available the absolute cap never collapsed
    // (q04 2.47×, q06 2.04× broadcast at sf100 WITHOUT this path), while
    // admitting a 15M-row build under broadcast turned q06 0.49× — the
    // reduction only saves hash-probe work there, which cannot amortize a
    // fact-fraction build's second scan; under shuffle the same reduction
    // saves exchanges and the trio recovers 2.70×/3.43×/1.83×.
    val bigBuildFraction =
      if (conf.autoBroadcastJoinThreshold > 0) 0.0
      else RptConf.bigBuildProbeFraction(conf)
    // effMaxBuildRows is defined after the banked-gate keep machinery it
    // consults (effective-card admission) — see below waveAdmitted
    val filteredOnly = RptConf.filteredBuildsOnly(conf)
    // The conversion margin models "this join will broadcast at runtime,
    // so the transfer's shuffle saving is zero" — a SINGLE-join argument.
    // On deep graphs it does not hold: a transferred reduction is consumed
    // by every downstream join the reduced rows flow through, so the
    // payoff compounds with depth while the build cost stays constant,
    // and a broadcast hash join still PROBES every fact row it receives —
    // rows removed by a transfer are hash lookups, join output, and
    // upstream scan bytes saved at every level even when nothing shuffles.
    // Measured on the 13–16-edge q35/q36/q27 with every individual join
    // broadcastable: bypassing the skip entirely runs 1.5–2× faster at
    // sf1 and 3–10× at sf10 (default regime sat at the rule-off time),
    // while the 3–5-table shapes lose 15–30% with probes — the margin
    // protects those. Deep plans therefore skip the broadcast gate
    // altogether (bcCeiling is None for them); shallow plans keep the
    // margin-widened compare.
    val v2ScanFilter = RptConf.v2ScanFilter(conf)
    val v2ScanMaxBuildRows = RptConf.v2ScanFilterMaxBuildRows(conf).toDouble
    // Over-cap quantized in-scan transfer (see RptConf.V2_QUANTIZED_OVER_CAP
    // and the GraftParquetScan scaladoc). Requires stock DPP cleanup to be
    // active: CleanupDynamicPruningFilters is what guarantees a
    // DynamicPruning predicate either reaches a supporting scan's runtime
    // filters or is REMOVED — never row-evaluated. Row evaluation is fine
    // for the exact under-cap key set (a redundant semi-filter) but wrong
    // for quantized anchors, whose IN-set reading is not their semantics.
    val quantOn = v2ScanFilter && RptConf.v2QuantizedOverCap(conf) &&
      conf.dynamicPartitionPruningEnabled
    val quantBuckets = math.max(1, RptConf.v2QuantBuckets(conf))
    // probe relation instance -> (lower-cased column -> grid width);
    // injected into the relation's read options after the final splice
    val quantInjections =
      new JIdentityHashMap[LogicalPlan, mutable.Map[String, Long]]()
    // probe relation instance -> lower-cased columns marked for ENVELOPE
    // interpretation (graft.range.<col>) — the over-cap path for keys the
    // grid can't express
    val rangeInjections =
      new JIdentityHashMap[LogicalPlan, mutable.Set[String]]()
    // First registration of a (relation, column) wins: the scan holds ONE
    // width per column, and anchors built with the registered width keep
    // the [anchor, anchor+width] coverage invariant for every later op.
    // A column may be quant-marked OR range-marked, never both: mixed
    // interpretation of one column's deliveries would under-cover (two
    // envelope values read as anchors span [min,min+w] ∪ [max,max+w],
    // not [min,max]) — registration refuses the second kind.
    def registerQuant(rel: LogicalPlan, col: String, w: Long): Option[Long] = {
      val c = col.toLowerCase(java.util.Locale.ROOT)
      if (Option(rangeInjections.get(rel)).exists(_.contains(c))) None
      else {
        val m = Option(quantInjections.get(rel)).getOrElse {
          val nm = mutable.Map[String, Long](); quantInjections.put(rel, nm); nm
        }
        Some(m.getOrElseUpdate(c, w))
      }
    }
    def registerRange(rel: LogicalPlan, col: String): Boolean = {
      val c = col.toLowerCase(java.util.Locale.ROOT)
      if (Option(quantInjections.get(rel)).exists(_.contains(c))) false
      else {
        Option(rangeInjections.get(rel)).getOrElse {
          val ns = mutable.Set[String](); rangeInjections.put(rel, ns); ns
        } += c
        true
      }
    }
    // Grid width from zero-execution footer stats of the build key's leaf.
    // The width only sets pruning RESOLUTION: quantization is total over
    // the key domain, so a stale footer range can never affect
    // correctness, only the delivered anchor count (~span/width).
    val quantWidthMemo = mutable.HashMap[(Int, String), Option[Long]]()
    def quantWidthFor(buildId: Int, bk: AttributeReference,
        buildPlan: LogicalPlan): Option[Long] =
      quantWidthMemo.getOrElseUpdate(
        (buildId, bk.canonicalized.toString), {
          FooterStats.columnRange(buildPlan, bk).flatMap { case (mn, mx) =>
            val bound = (1L << 61).toDouble // keep long arithmetic exact
            if (!java.lang.Double.isFinite(mn) ||
                !java.lang.Double.isFinite(mx) || mx < mn ||
                math.max(math.abs(mn), math.abs(mx)) > bound) None
            else Some(math.max(1L,
              math.ceil((mx - mn + 1.0) / quantBuckets).toLong))
          }
        })
    def quantExpr(bk: AttributeReference, w: Long): Option[Expression] =
      PredicateTransferRule.quantExpr(bk, w)
    def graftRelationFor(plan: LogicalPlan, id: ExprId): Option[LogicalPlan] =
      plan.collectFirst {
        case GraftRelation(r) if r.output.exists(_.exprId == id) => r
      }
    // output ExprIds of runtime-filterable v2 relations in a unit plan —
    // only attrs passing through filters untouched qualify (an aliasing
    // Project breaks the direct column mapping the v2 engine needs)
    def v2FilterableAttrs(plan: LogicalPlan): Set[ExprId] = plan.collect {
      case GraftRelation(r) => r.output.map(_.exprId)
    }.flatten.toSet

    // keep-fraction gate: a build whose STATIC filter keeps >=
    // RptConf.MaxBuildKeepFraction of the unit's rows is skipped — its bloom
    // filter would contain most keys while the build still costs a scan.
    // The keep fraction comes from (in preference order):
    //  - CBO filter estimation (`spark.sql.cbo.enabled` + ANALYZE'd column
    //    stats): free at planning time — Filter.stats.rowCount is the
    //    estimated filtered output, the leaf's rowCount/footers the
    //    unfiltered total;
    //  - the footer min/max uniform estimate (FooterStats) — the
    //    default-path source, defined only for all-range filters so it
    //    can never stand down a build whose selectivity hides in an
    //    equality/IN/LIKE conjunct footers can't see.
    // Memoized per unit; only applied when the unit's OWN static filter is
    // what qualified it (a transitively-reduced unit's count would measure
    // the unfiltered table and wrongly gate).
    // estimated (keptRows, totalRows) of the unit's OWN static filter, or
    // None when no source can estimate it; memoized per unit
    val keepEstMemo = mutable.HashMap[Int, Option[(Double, Double)]]()
    def keepEstimate(id: Int): Option[(Double, Double)] =
      keepEstMemo.getOrElseUpdate(id, {
        val u = graph.units(id)
        if (!selectivelyFiltered(u.plan)) None
        else {
          val unfiltered: Option[Double] = u.plan.collectLeaves() match {
            case Seq(leaf) => leaf.stats.rowCount.map(_.toDouble)
              .orElse(ParquetFooters.rowCount(leaf).map(_.toDouble))
            case _ => None
          }
          unfiltered.filter(_ > 0).flatMap { tot =>
            // the CBO estimate is only trustworthy when the filter's
            // columns actually carry ANALYZE'd stats: FilterEstimation
            // assumes selectivity 1.0 (keeps ALL rows) for predicates it
            // cannot estimate, which would read as "weak" and silently
            // stand the rule down for every CBO user without stats
            val cboUsable = conf.cboEnabled && {
              val statAttrs = u.plan.stats.attributeStats
              val filterAttrs = u.plan.collect {
                case Filter(c, _) => splitConjunctivePredicates(c)
                  .filter {
                    case _: IsNotNull | _: Not => false
                    case _ => true
                  }.flatMap(_.references)
              }.flatten
              filterAttrs.nonEmpty && filterAttrs.forall(statAttrs.contains)
            }
            val estKeep =
              if (cboUsable) u.plan.stats.rowCount.map(_.toDouble)
              else None
            estKeep.orElse(FooterStats.keepFraction(u.plan).map(_ * tot))
              .map(k => (k, tot))
          }
        }
      })
    def measuredUnselective(id: Int): Boolean =
      keepEstimate(id).exists { case (k, tot) =>
        k >= RptConf.MaxBuildKeepFraction * tot
      }
    // stricter keep ceiling for the probe-volume BYPASS (see
    // RptConf.DeepPlanBypassKeepFraction): an estimable-and-weak build must
    // not ride the aggressive exception path; unestimable builds (equality/
    // IN/LIKE filters footers can't price) keep the benefit of the doubt
    def bypassWeakBuild(id: Int): Boolean =
      keepEstimate(id).exists { case (k, tot) =>
        k >= RptConf.DeepPlanBypassKeepFraction * tot
      }

    // The v2 in-scan gate guards the DRIVER-side IN-set the engine
    // collects (InSubqueryExec values), so it should key on the FILTERED
    // build where an estimate exists: at warehouse scale a dim is huge
    // unfiltered but tiny after its static predicate, and gating on the
    // raw unit card would stand the transfer down exactly where it pays
    // most (the reference pushes its dynamic filter regardless of build
    // size — the IN values are whatever survived). Estimate preference
    // mirrors the keep-fraction gate: CBO filtered rowCount (absent
    // column stats FilterEstimation returns "keeps all", which is
    // conservative here), else the unfiltered card.
    // Memoized per build unit off its first snapshot — pass-to-pass
    // snapshot differences only tighten the filter, never loosen it.
    // --- planning-time total-work floor (RptConf.WAVE_COST_BYTES) ---
    // Each distinct (build unit, keys, pass) group that injects a BF or
    // min/max probe costs one executed wave: a build-subquery stage
    // launch + result broadcast + a SECOND scan of the build side. The
    // query's budget is a fraction of its PROBED-unit bytes — the scan
    // surface the transfers actually filter, summed over the schedule's
    // distinct probe-eligible units. Probe bytes, not whole-plan bytes,
    // because downstream payoff scales with the data the probes cut:
    // a five-arm fact topology earns five facts' worth of waves, while
    // a single-fact plan of the same total size affords only the cheap
    // dim builds (the measured JOBREAL split: same byte footprint, the
    // multi-arm shapes win 2-26x and the single-fact ones lose 0.4-0.7x
    // carrying fact-fraction builds). Each wave charges max(flat stage
    // cost, waveBuildFraction x build unit's leaf bytes). Spending
    // happens in schedule order, which on the forward pass runs
    // leaves-to-root — the cheap selective dim builds are admitted first,
    // the fact-fraction builds (the measured 1.3-1.8 s cost drivers on
    // interactive-scale JOB) are what an exhausted budget rejects. A
    // budget under one flat wave stands every probe down. The v2
    // in-scan paths below are exempt (see the rewrite() stand-down).
    val waveCost = RptConf.waveCostBytes(conf)
    val waveWorkFraction = RptConf.waveWorkFraction(conf)
    val waveBuildFraction = RptConf.waveBuildFraction(conf)
    val unitBytesMemo = mutable.HashMap[Int, BigInt]()
    def unitLeafBytes(id: Int): BigInt = unitBytesMemo.getOrElseUpdate(id,
      graph.units(id).plan.collectLeaves().map(_.stats.sizeInBytes).sum)
    // --- banked-filter gate constants and shared keep measurement (used
    // by BOTH the budget below and the stand-down gate further down) ---
    val filteredProbeMult = RptConf.filteredProbeWaveMultiple(conf)
    val fpKeptMult = RptConf.filteredProbeKeptWaveMultiple(conf)
    def fpBase: BigInt = BigInt(waveCost) * BigInt(filteredProbeMult)
    // banking (and keep measurement generally) is about a PUSHED scan
    // predicate, so it only ever applies to a plain filtered scan:
    // Filter/Project over one leaf. A derived unit (joins/aggregates/
    // windows below the probe) never qualifies — and, just as important,
    // never reaches the count fallback, which would otherwise execute an
    // arbitrary subtree at planning time
    def simpleScan(p: LogicalPlan): Boolean =
      p.collectLeaves().sizeIs == 1 && !p.exists {
        case _: Filter | _: Project | _: LeafNode => false
        case _ => true
      }
    // the count fallback executes the filtered scan at planning time, so
    // its condition must be self-contained: a ScalarSubquery inside the
    // Filter would drag an arbitrary user subtree (over tables the gate's
    // byte ceiling never saw) into the count, and a non-deterministic
    // predicate would count a different sample than the query runs
    // ALL node expressions, not just Filter conditions: simpleScan admits
    // Project nodes, and a Filter over a non-deterministic projected alias
    // (rand() AS x, Filter x < 5 — not pushable through the
    // non-deterministic Project) would count a different sample than the
    // query runs and cache a meaningless keep fraction
    def countSafe(p: LogicalPlan): Boolean = !p.exists(n =>
      n.expressions.exists(e =>
        e.exists(_.isInstanceOf[SubqueryExpression]) || !e.deterministic))
    // measured keep fraction of a unit's OWN static filter. Preference:
    // the free footer/CBO estimate; else an EXACT planning-time count of
    // the filtered unit — only ever evaluated for single-leaf scans under
    // the gate's band top (callers check the byte band first), TTL-cached
    // across queries (RuntimeCounts), and cheaper than one
    // wrongly-admitted build wave. The denominator must be a REAL row
    // count: for cardMeasured=false units card is the sizeInBytes/32
    // proxy and the ratio would be fiction.
    val keepMemo = mutable.HashMap[Int, Option[Double]]()
    def measuredKeep(id: Int): Option[Double] = keepMemo.getOrElseUpdate(id, {
      val u = graph.units(id)
      keepEstimate(id).map { case (k, tot) => k / tot }.orElse {
        if (u.cardMeasured && u.card > 0 && countSafe(u.plan)) {
          RuntimeCounts.count(u.plan).map(_.toDouble / u.card)
        } else None
      }
    })
    // fpKeptMult > 0 is part of the band condition so that
    // FILTERED_PROBE_KEPT_WAVE_MULTIPLE=0 fully disables the extension
    // as its doc states — banking, the effective-bytes budget discount,
    // and the effective-card admission are all extended-band-scoped, and
    // keptMult=0 must make every one of them base-band-identical
    def inExtendedBand(bytes: BigInt): Boolean =
      waveCost > 0 && filteredProbeMult > 0 && fpKeptMult > 0 &&
        bytes >= fpBase &&
        bytes < fpBase * BigInt(RptConf.FilteredProbeExtendFactor)
    // EFFECTIVE probe bytes: the budget prices downstream payoff by the
    // data the probes cut, and for a statically-filtered probe site that
    // is the POST-FILTER stream, not the raw scan. Pricing 18b's 1.48 GB
    // cast_info at face value funded fact-fraction builds against a
    // 148 MB (10% keep) probe stream — the measured factor-2 residual
    // (JOBREAL_F2_r17 part 2: 18b 0.69x broadcast on the
    // kept-ceiling-only binary). Scoped to the extended band so base-band
    // (interactive-scale) budgets stay byte-identical to r16, and to
    // MEASURED keeps only (unknown keeps price raw — conservative).
    def effectiveUnitBytes(id: Int): BigInt = {
      val bytes = unitLeafBytes(id)
      val u = graph.units(id)
      if (inExtendedBand(bytes) && selectivelyFiltered(u.plan) &&
          simpleScan(u.plan)) {
        measuredKeep(id) match {
          case Some(k) if k >= 0 && k <= 1 =>
            (BigDecimal(bytes) * BigDecimal(k)).toBigInt.max(BigInt(1))
          case _ => bytes
        }
      } else bytes
    }
    var waveBudget: BigInt =
      if (waveCost <= 0) BigInt(-1)
      else {
        val probedBytes: BigInt = ops.map(_.probe).distinct
          .filter(graph.units(_).card >= minProbeRows)
          .map(effectiveUnitBytes).sum
        val fromBytes =
          (BigDecimal(probedBytes) * waveWorkFraction).toBigInt
        // DEEP-plan minimum: a join graph at or past deepPlanEdges gets at
        // least edges/2 flat waves regardless of its byte size. Reductions
        // compound through every downstream join (the DEEP_PLAN_EDGES
        // rationale), and byte-small multi-alias topologies explode far
        // past their scan volume — the JOB 33* two-hub family (aliased
        // title/movie_link self-joins, ~74 MB of files) measured 2.5-2.9x
        // WITH transfers and collapsed to 1.0x when a bytes-only budget
        // stood it down. Shallow plans keep the pure byte budget: their
        // sub-second tail is what the floor exists to protect.
        if (graph.edges.size >= deepPlanEdges) {
          fromBytes.max(BigInt(waveCost) * (graph.edges.size / 2))
        } else fromBytes
      }
    // banked-filter stand-down (RptConf.FILTERED_PROBE_WAVE_MULTIPLE):
    // a probe site whose scan already carries its own selective static
    // predicate re-cuts mostly-banked rows — at interactive scale the
    // pushed filter plus the first cheap join kill those rows anyway
    // (the measured JOB loser class), so BF/min-max injection there is
    // gated until the probed unit's scan volume is large enough that
    // even the post-filter stream amortizes the wave. Probe-side only;
    // scan pruning and ride-through semis stay exempt. Banking needs a
    // STRONG own filter: a weak one (l_returnflag IN ('A','N') keeps
    // half the fact) banks almost nothing, and transfers behind it kept
    // paying on the measured topologies (JOBTOPO q18 1.17x -> 0.80x
    // under the unconditioned gate); the measured JOB loser filters
    // (string equalities and LIKEs footers cannot price) keep a few
    // percent — the count fallback inside measuredKeep is what
    // separates them from the weak string INs that must keep probing.
    // In the BASE band an unknown keep stays banked (the measured prior
    // for small filtered probes is the loser class); the mid-scale
    // EXTENDED band (base to base x extendFactor) banks only on a
    // MEASURED keep whose post-filter volume (keep x scan bytes) is
    // under the kept-waves ceiling — banking a GB-scale probe on a
    // prior would gamble real wall-clock (see
    // RptConf.FILTERED_PROBE_KEPT_WAVE_MULTIPLE for the factor-2
    // evidence).
    val bankedProbeMemo = mutable.HashMap[Int, Boolean]()
    def probeBanked(probeId: Int): Boolean =
      waveCost > 0 && filteredProbeMult > 0 &&
        bankedProbeMemo.getOrElseUpdate(probeId, {
          val u = graph.units(probeId)
          val bytes = unitLeafBytes(probeId)
          val inBase = bytes < fpBase
          (inBase || inExtendedBand(bytes)) &&
          selectivelyFiltered(u.plan) && simpleScan(u.plan) && {
            val keep = measuredKeep(probeId)
            if (inBase) keep.forall(_ < RptConf.FilteredProbeMaxKeep)
            else keep.exists(k => k < RptConf.FilteredProbeMaxKeep &&
              BigDecimal(k) * BigDecimal(bytes) <
                BigDecimal(waveCost) * BigDecimal(fpKeptMult))
          }
        })
    val admittedWaves = mutable.Set[(Int, String, Boolean)]()
    def waveAdmitted(op: ScheduledOp): Boolean = {
      if (waveBudget < 0) true
      else {
        val key = (op.build,
          op.buildKeys.map(_.canonicalized.toString).mkString(";"),
          op.forward)
        if (admittedWaves.contains(key)) true
        else {
          val charge = (BigDecimal(unitLeafBytes(op.build)) *
            waveBuildFraction).toBigInt.max(BigInt(waveCost))
          if (waveBudget >= charge) {
            waveBudget -= charge
            admittedWaves += key
            true
          } else false
        }
      }
    }

    // Probe-relative big-build admission ceiling, on the probe's
    // EFFECTIVE cardinality (VERDICT r17 #3, the JOBREAL_F2_r17 part-3
    // diagnosis): the probe-relative path admits a build past the
    // absolute cap because "a probe that dwarfs the build amortizes a
    // bigger filter" — but the amortizing volume of a statically-filtered
    // simple-scan probe is its POST-FILTER stream, not the raw scan. At
    // factor 2, 18b's name build (8.33M items) rode in on cast_info's raw
    // 72.5M rows while ci's own note-IN filter keeps ~10% (7.25M) — a
    // build the size of the whole probe stream, costing a second
    // name-table scan + a 32M-item-class filter against a probe that
    // cannot repay it (builds 18.1 s vs a 14.3 s off-wall). Scoped
    // exactly like effectiveUnitBytes: extended band + MEASURED keep only
    // — base-band plans never reach the row counts where this path fires,
    // and sf100's out-of-band facts (14 GB lineitem) keep raw pricing, so
    // the r13-measured sf100 big-build wins (q27 shuffle trio
    // 2.70x/3.43x/1.83x) are structurally untouched.
    def effMaxBuildRows(probeId: Int): Double =
      if (bigBuildFraction <= 0) maxBuildRows
      else {
        val u = graph.units(probeId)
        val bytes = unitLeafBytes(probeId)
        val keep =
          if (inExtendedBand(bytes) &&
              selectivelyFiltered(u.plan) && simpleScan(u.plan)) {
            measuredKeep(probeId).filter(k => k >= 0 && k <= 1).getOrElse(1.0)
          } else 1.0
        math.max(maxBuildRows, u.card * keep * bigBuildFraction)
      }

    val v2GateMemo = mutable.HashMap[Int, Boolean]()
    def v2BuildSmallEnough(id: Int, buildPlan: LogicalPlan): Boolean =
      v2GateMemo.getOrElseUpdate(id, {
        val u = graph.units(id)
        u.card <= v2ScanMaxBuildRows ||
        (conf.cboEnabled && buildPlan.stats.rowCount
          .exists(_.toDouble <= v2ScanMaxBuildRows))
      })

    ops.foreach { op =>
      if (!inBackward && !op.forward) {
        inBackward = true
        graph.units.foreach(u => fwdReduced(u.id) = reduced(u.id))
      }
      val reducedBuild =
        if (inBackward) fwdReduced(op.build) else reduced(op.build)
      // a build side is worth transferring from once it carries a selective
      // predicate — statically, or through its own reducers (semis are
      // added only from filtered builds, so non-empty semis => filtered)
      val buildFiltered = reducedBuild.semis.nonEmpty ||
        selectivelyFiltered(reducedBuild.unit.plan)
      val buildGated =
        graph.units(op.build).card > effMaxBuildRows(op.probe) ||
        (filteredOnly && !buildFiltered) || measuredUnselective(op.build)
      val gated = buildGated ||
        graph.units(op.probe).card < minProbeRows ||
        (buildProbeRatio > 0 &&
          graph.units(op.build).card * buildProbeRatio >
            graph.units(op.probe).card) ||
        bcCeiling.exists(ceiling =>
          // probe-volume bypass (RPTBENCH_r12 ladder): a large probe
          // amortizes the subquery overhead even under broadcast joins —
          // the reduction is consumed by every downstream operator the
          // surviving rows flow through, broadcast or not. The half-depth
          // floor keeps 2-edge scan-bound shapes gated: with ≤2 joins
          // there is not enough downstream work for the cut to pay at any
          // scale measured (star_part 0.66×/0.73× at sf1/sf10, vs the
          // 4-edge chain's 1.14× and q06's sf10 1.83×). The bypass also
          // demands the build not be MEASURED weak at the stricter
          // bypass keep ceiling: q06's r12 sf1 0.76× came from bypassed
          // probes whose builds keep ~half their rows (`p_size < 25`),
          // statically visible in footer ranges — weak builds take the
          // normal gate, unestimable ones (equality cascades) still
          // bypass.
          !(graph.units(op.probe).card >= RptConf.DeepPlanProbeRows &&
            graph.edges.size >= deepPlanEdges / 2 &&
            !bypassWeakBuild(op.build)) &&
          // skip when the build–probe JOIN will run as a broadcast join —
          // AQE converts using runtime (filtered, shuffle-compressed)
          // sizes that the planning-time estimate overstates by the
          // margin (see RptConf.BroadcastConversionMargin). A broadcast
          // join never shuffles the probe rows, so the transfer has
          // nothing to save and its build subquery is pure overhead.
          convertsToBroadcast(graph, op.build, op.probe, ceiling))
      // extend the probe's reduced view whenever the BUILD side qualifies,
      // even when the probe-side filter is gated (e.g. a tiny probe unit):
      // the reduction must ride through small units to the big tables
      // behind them, without those units paying a probe subquery of their
      // own. Skip on member overlap (diamond) — embedding a unit twice
      // would duplicate ExprIds across two sides of a join. Also skip
      // embedding a reducer LARGER than the unit it reduces (same ratio
      // as the probe gate): the ride-through case is a small dim chain
      // riding into the facts behind it; a fact-sized reducer embedded
      // into a smaller unit's view makes every downstream build of that
      // view re-scan + broadcast the fact (measured at JOB depth: q35's
      // orders-build embedding lineitem cost more than its extra
      // selectivity returned — 1.00x; blocked, the dim chain still rides
      // and the build stays a dims-only broadcast-semi tree).
      // The embed exempts itself from the measured keep-fraction gate when
      // the view carries semis: that gate measures the unit's OWN filter
      // only, and a weak own filter doesn't devalue the selective
      // reductions riding through (semis are added only from filtered
      // builds). With no semis, a measured-weak filter means the embedded
      // view would be a near-no-op semi — gate it like the build.
      val embedGated =
        graph.units(op.build).card > effMaxBuildRows(op.probe) ||
        (filteredOnly && !buildFiltered) ||
        (reducedBuild.semis.isEmpty && measuredUnselective(op.build))
      if (!embedGated &&
          (buildProbeRatio <= 0 ||
            graph.units(op.build).card * buildProbeRatio <=
              graph.units(op.probe).card) &&
          (reducedBuild.members & reduced(op.probe).members).isEmpty) {
        val rp = reduced(op.probe)
        val jcond = op.probeKeys.zip(op.buildKeys)
          .map { case (pk, bk) => EqualTo(pk, bk): Expression }
          .reduce(And)
        reduced(op.probe) = rp.copy(
          semis = rp.semis :+
            ((reducedBuild.materialize(op.buildKeys), jcond)),
          members = rp.members ++ reducedBuild.members)
      }
      if (!gated) {
        val buildPlan = reducedBuild.materialize(op.buildKeys)
        val conds = mutable.ArrayBuffer[Expression]()
        // the probe-wave floor: only BF/min-max injection consumes the
        // wave budget; the scan-pruning paths further down are exempt.
        // Charge ONLY when this op will actually emit a probe — under
        // filterType=minmaxOnly with no orderable build-key pair (or both
        // probe types off) there is nothing to inject, and debiting the
        // group's wave anyway would silently starve a later injectable op
        val mmPairs = op.buildKeys.zip(op.probeKeys)
          .filter { case (bk, _) => RowOrdering.isOrderable(bk.dataType) }
        val wouldInject = withBf || (withMinmax && mmPairs.nonEmpty)
        val waveOk = wouldInject && !probeBanked(op.probe) && waveAdmitted(op)
        if (waveOk && withBf) {
          conds += BloomFilterMightContain(
            sharedScalarAgg("bf", {
              // a build admitted past the absolute cap by the
              // probe-relative path must size its filter to match, or the
              // 4M-item default saturates it into a pass-through; clamp to
              // the session's BloomFilterAggregate `require` caps (items,
              // and bits at Spark's 8 bits/item default sizing)
              val opMaxItems =
                if (graph.units(op.build).card > maxBuildRows) {
                  math.max(maxItems, math.min(
                    RptConf.BigBuildMaxBfItems,
                    math.min(
                      conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS),
                      conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS) / 8)))
                } else maxItems
              val est = estimatedItems(buildPlan,
                graph.units(op.build), opMaxItems, defaultItems)
              new BloomFilterAggregate(new XxHash64(op.buildKeys), est)
                .toAggregateExpression()
            }, buildPlan, op.buildKeys, op.forward, op.build),
            new XxHash64(op.probeKeys))
          // the within-query drop (reference: SelectivityOptionalFilter
          // wrap, physical_create_bf.cpp:326-328) wraps this probe at
          // PHYSICAL planning — see WrapAdaptiveProbes for why a logical
          // wrap here measurably regressed deep plans
        }
        if (waveOk && withMinmax) {
          mmPairs.foreach { case (bk, pk) =>
            conds += GreaterThanOrEqual(pk,
              sharedScalarAgg("min", Min(bk).toAggregateExpression(),
                buildPlan, Seq(bk), op.forward, op.build))
            conds += LessThanOrEqual(pk,
              sharedScalarAgg("max", Max(bk).toAggregateExpression(),
                buildPlan, Seq(bk), op.forward, op.build))
          }
        }
        // quant DPS conds are SCAN-ONLY: their row-filter reading ("pk IN
        // anchors") is NOT their semantics (the marked scan interprets
        // each anchor as a [v, v+w] range), so they must never be
        // evaluated as a row filter: they ride to the final splice only,
        // where DPP cleanup lands them in the scan or removes them (see
        // quantOn)
        val scanOnlyConds = mutable.ArrayBuffer[Expression]()
        val quantHandled = mutable.Set[Int]()
        if (quantOn && !v2BuildSmallEnough(op.build, buildPlan)) {
          // over-cap build: deliver the key set QUANTIZED — runtime-fresh
          // values through the same DynamicPruningSubquery channel as the
          // under-cap path, but ~quantBuckets anchors instead of the raw
          // distinct keys; the probe relation is marked with the grid
          // width so its scan expands anchors back to ranges. This is the
          // uncapped, staleness-free analog of the reference's runtime
          // scan-filter build (physical_create_bf.cpp:282-350).
          val unitPlan = graph.units(op.probe).plan
          val v2Attrs = v2FilterableAttrs(unitPlan)
          op.probeKeys.zip(op.buildKeys).zipWithIndex.foreach {
            case ((pk: AttributeReference, bk: AttributeReference), i)
                if v2Attrs.contains(pk.exprId) && pk.dataType == bk.dataType =>
              graftRelationFor(unitPlan, pk.exprId).foreach { rel =>
                quantWidthFor(op.build, bk, buildPlan).foreach { w0 =>
                  registerQuant(rel, pk.name, w0).foreach { w =>
                    quantExpr(bk, w).foreach { qe =>
                      scanOnlyConds += DynamicPruningSubquery(pk,
                        SqlBridge.planV2Scans(buildPlan), Seq(qe), Seq(0),
                        onlyInBroadcast = false)
                      quantHandled += i
                    }
                  }
                }
              }
            case _ => ()
          }
          // ENVELOPE path for keys the grid cannot express — VARCHAR and
          // other non-integral orderable types (exactly the types whose
          // runtime min/max the reference tracks during its sink,
          // physical_create_bf.cpp:131-176), plus integral keys whose
          // build leaf lacks usable footer stats. The build delivers its
          // runtime MIN and MAX (two rows via Expand over one global
          // aggregate — a single build-side scan) through the same
          // DynamicPruningSubquery channel, and the probe relation is
          // marked `graft.range.<col>` so the scan reads the delivered
          // pair as the [lo, hi] envelope: footer file-prune,
          // runtime-fresh, no planning-time staleness.
          op.probeKeys.zip(op.buildKeys).zipWithIndex
            .filterNot { case (_, i) => quantHandled(i) }.foreach {
            case ((pk: AttributeReference, bk: AttributeReference), i)
                if v2Attrs.contains(pk.exprId) &&
                  pk.dataType == bk.dataType &&
                  PredicateTransferRule.envelopeSupported(pk.dataType) =>
              graftRelationFor(unitPlan, pk.exprId).foreach { rel =>
                if (registerRange(rel, pk.name)) {
                  val needed = AttributeSet(bk.references)
                  val projected =
                    Project(buildPlan.output.filter(needed.contains), buildPlan)
                  val mn = Alias(Min(bk).toAggregateExpression(),
                    "graft_rpt_envmn")()
                  val mx = Alias(Max(bk).toAggregateExpression(),
                    "graft_rpt_envmx")()
                  val agg = Aggregate(Nil, Seq(mn, mx), projected)
                  val out = AttributeReference("graft_rpt_env", bk.dataType,
                    nullable = true)()
                  val env = Expand(
                    Seq(Seq(mn.toAttribute), Seq(mx.toAttribute)),
                    Seq(out), agg)
                  scanOnlyConds += DynamicPruningSubquery(pk,
                    SqlBridge.planV2Scans(env), Seq(out), Seq(0),
                    onlyInBroadcast = false)
                  quantHandled += i
                }
              }
            case _ => ()
          }
        }
        if (v2ScanFilter && v2BuildSmallEnough(op.build, buildPlan)) {
          // in-scan transfer for runtime-filterable v2 probe leaves: the
          // reference's dynamic filter pushdown into LOGICAL_GET
          // (rpt_optimizer.cpp:1401-1501). The DynamicPruningSubquery
          // rides to BatchScanExec.runtimeFilters; at execution the build
          // side's distinct keys reach the scan's filter(), skipping
          // files. Only direct relation columns qualify — the
          // engine cannot translate a computed pruning key into a v2
          // column reference (it would silently drop the filter anyway).
          val v2Attrs = v2FilterableAttrs(graph.units(op.probe).plan)
          op.probeKeys.zip(op.buildKeys).zipWithIndex.foreach {
            case ((pk: Attribute, _), i) if v2Attrs.contains(pk.exprId) =>
              // the BUILD side may itself be a v2 relation (both ends of
              // q37 read graft-parquet): like scalarAgg, the captured
              // plan must have its v2 scans built NOW — later batches
              // never traverse freshly-injected subqueries, and AQE's
              // standalone-subquery compile (the shuffle regime, where
              // no broadcast exchange is reusable) would hit
              // "No plan for RelationV2"
              conds += DynamicPruningSubquery(pk,
                SqlBridge.planV2Scans(buildPlan),
                op.buildKeys, Seq(i), onlyInBroadcast = false)
            case _ => ()
          }
        }
        if (conds.nonEmpty) {
          pendingConds.getOrElseUpdate(op.probe,
            mutable.ArrayBuffer[Expression]()) += conds.reduce(And)
        }
        if (scanOnlyConds.nonEmpty) {
          pendingConds.getOrElseUpdate(op.probe,
            mutable.ArrayBuffer[Expression]()) ++= scanOnlyConds
        }
      }
    }

    // splice: wrap each ORIGINAL unit subtree (identity match) with its
    // accumulated filters, handling units nested inside barrier units
    val byIdentity = new JIdentityHashMap[LogicalPlan, Seq[Expression]]()
    pendingConds.foreach { case (id, conds) =>
      byIdentity.put(graph.units(id).plan, conds.toSeq)
    }

    // Probe filters splice ABOVE barrier units (Union/Window/SetOp — the
    // reference's placement, rpt_optimizer.cpp:112-124). The stock
    // optimizer batches that run AFTER this preCBO rule then complete the
    // push where provably safe: into every Union branch (key attributes
    // remapped per child) and below a Window whose partition keys cover
    // the probe keys — so the probe cuts rows before the union concat /
    // window sort.
    // Pinned by BarrierPlacementSuite (incl. the negative case: a window
    // partitioned on other columns keeps the probe above it).
    def splice(p: LogicalPlan): LogicalPlan = {
      val conds = byIdentity.get(p) // look up BEFORE children are rebuilt
      val rebuilt = p.mapChildren(splice)
      rebuilt match {
        case _ if conds == null => rebuilt
        // merge into the unit's OWN filter rather than stacking a second
        // Filter node: the v2 scan-building batch (Early Filter and
        // Projection Push-Down, which runs once, right after this rule)
        // only consumes the single Filter directly above the relation —
        // a stacked probe filter would keep its pushable conjuncts out of
        // the scan's pushedFilters
        case f: Filter =>
          Filter(And(conds.reduce(And), f.condition), f.child)
        case other =>
          conds.foldLeft(other)((acc, c) => Filter(c, acc))
      }
    }
    val spliced = splice(plan)
    // mark each quant-probed relation with its grid width(s): the scan
    // builder reads `graft.quant.<col>` from the relation's options
    // (newScanBuilder(relation.options) — the per-plan metadata channel)
    // and switches that column's runtime IN-set to range interpretation.
    // Identity-keyed: only the exact probe instances the loop registered.
    if (quantInjections.isEmpty && rangeInjections.isEmpty) spliced
    else spliced.transform {
      case r: DataSourceV2Relation
          if quantInjections.containsKey(r) || rangeInjections.containsKey(r) =>
        val merged = new java.util.HashMap[String, String](
          r.options.asCaseSensitiveMap())
        Option(quantInjections.get(r)).foreach(_.foreach { case (c, w) =>
          merged.put(
            org.apache.spark.sql.graft.sources.GraftParquetScan
              .QuantOptionPrefix + c, w.toString)
        })
        Option(rangeInjections.get(r)).foreach(_.foreach { c =>
          merged.put(
            org.apache.spark.sql.graft.sources.GraftParquetScan
              .RangeOptionPrefix + c, "1")
        })
        r.copy(options =
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(merged))
    }
  }

  /** A unit plan counts as selectively filtered when it contains a Filter
   *  with at least one conjunct beyond null-intolerance bookkeeping — a
   *  user predicate ("filtered" propagates transitively along the
   *  schedule through the reduced views' semis, see applyOps). The
   *  reference's filtered/unfiltered table classification
   *  (src/transfer_graph_manager.hpp:103-114).
   *
   *  Negation-only conjuncts (`<>`, NOT ...) do NOT qualify: the standard
   *  selectivity assumption for a negation is 1 − 1/ndv — it keeps almost
   *  every row — so a build gated only by one produces a bloom filter
   *  containing nearly all keys while still paying a full build scan
   *  (measured: q05's `o_orderstatus <> 'O'` build of 1.5M orders cost
   *  0.8× at sf1; with the negation ignored the rule stands down to
   *  1.0×). An equality/range/IN conjunct anywhere in the filter still
   *  qualifies the unit. */
  private def selectivelyFiltered(p: LogicalPlan): Boolean = p.exists {
    case Filter(cond, _) =>
      splitConjunctivePredicates(cond).exists {
        case _: IsNotNull => false
        case _: Not => false
        case _ => true
      }
    case _ => false
  }

  /** Bloom-filter sizing from build-side stats (the reference sizes at
   *  finalize from true cardinality, physical_create_bf.cpp:382-406).
   *  Preference order: rowCount of the filtered build plan (CBO), then
   *  the unit's measured cardinality (parquet footers) scaled by the footer min/max keep-fraction estimate where
   *  one exists (an all-range filter keeping 4% of a fact-sized build
   *  otherwise broadcasts a ~25×-oversized filter; under-estimates cost
   *  FPR only, and the 4096 floor bounds the degenerate end), then the
   *  defaultItems clamp for unmeasured proxies. Cap maxItems bounds
   *  filter memory/broadcast cost. */
  private def estimatedItems(
      buildPlan: LogicalPlan,
      unit: TableUnit,
      maxItems: Long,
      defaultItems: Long): Long = {
    val est = buildPlan.stats.rowCount.map(_.toDouble).getOrElse {
      val static =
        if (unit.cardMeasured) unit.card
        else math.min(unit.card, defaultItems.toDouble)
      static * FooterStats.keepFraction(unit.plan).getOrElse(1.0)
    }
    math.max(4096L, math.min(est.toLong, maxItems))
  }
}

object PredicateTransferRule {
  /** The transfer schedule the rule planned, tagged on the plan it
    * returns. [[DagPrinter.renderPhysical]] (through
    * [[RptExplain.displayPhysicalDag]] and the profiling listener) joins
    * measured probe selectivities onto its boxed tree. Optimizer rules
    * that replace a tagged node copy the tag onto its replacement. */
  private[rpt] val ScheduleTag =
    TreeNodeTag[(JoinGraph, Seq[ScheduledOp])]("graft.rpt.schedule")

  /** The schedule tagged on an optimized plan — its main query first,
    * then its subqueries; None when the rule planned no schedule. */
  private[rpt] def scheduleOf(plan: LogicalPlan)
      : Option[(JoinGraph, Seq[ScheduledOp])] =
    (plan +: plan.subqueriesAll).iterator
      .flatMap(_.find(_.getTagValue(ScheduleTag).isDefined))
      .flatMap(_.getTagValue(ScheduleTag)).nextOption()

  /** Build key -> the key quantized to its grid anchor (same output
    * type): floor-to-multiple-of-width in the internal integral domain,
    * clamped so the cast back can never overflow. The COVERAGE invariant
    * — for every non-null key k, k is inside [anchor(k), anchor(k)+w] —
    * holds for ANY w >= 1 and any key value (QuantizedOverCapSuite pins
    * it far outside the footer-derived grid), which is why a stale grid
    * can only cost pruning resolution, never correctness: q = k -
    * pmod(k, w) satisfies q <= k < q + w, and the typeMin clamp keeps
    * the cast in range while preserving q > k - w. */
  private[rpt] def quantExpr(bk: AttributeReference, w: Long)
      : Option[Expression] = {
    import org.apache.spark.sql.types._
    val dt = bk.dataType
    val toLong: Option[Expression] = dt match {
      case _: ByteType | _: ShortType | _: IntegerType =>
        Some(Cast(bk, LongType))
      case _: LongType => Some(bk)
      case _: DateType => Some(Cast(UnixDate(bk), LongType))
      case _: TimestampType => Some(UnixMicros(bk))
      case _ => None
    }
    toLong.map { l =>
      val q = Subtract(l, Pmod(l, Literal(w)))
      val typeMin: Option[Long] = dt match {
        case _: ByteType => Some(Byte.MinValue.toLong)
        case _: ShortType => Some(Short.MinValue.toLong)
        case _: IntegerType => Some(Int.MinValue.toLong)
        case _: DateType => Some(Int.MinValue.toLong)
        case _ => None // Long/Timestamp: guarded below, not by Greatest
      }
      val clamped = typeMin.map(v => Greatest(Seq(q, Literal(v)))).getOrElse {
        // Long-domain keys (Long/Timestamp): `l - pmod(l, w)` itself wraps
        // (non-ANSI) or throws (ANSI) for l within w of Long.MinValue, and
        // the footer-derived grid only samples MaxFooters files — runtime
        // keys in unsampled files can sit anywhere in the domain. Pin those
        // keys to the Long.MinValue anchor: coverage holds (k <=
        // Long.MinValue + w = anchor + w) and the subtraction is never
        // evaluated on a wrapping input. Long.MinValue + w cannot overflow:
        // w <= 2^62 (span/buckets under the 2^61 footer-range guard).
        If(LessThanOrEqual(l, Literal(Long.MinValue + w)),
          Literal(Long.MinValue), q)
      }
      dt match {
        case _: LongType => clamped
        case _: DateType => DateFromUnixDate(Cast(clamped, IntegerType))
        case _: TimestampType => MicrosToTimestamp(clamped)
        case _ => Cast(clamped, dt)
      }
    }
  }

  /** Types the over-cap ENVELOPE path supports: orderable atomics the
    * graft-parquet scan both offers as runtime-filterable attributes and
    * can footer-compare (strings and floats — the non-integral residue
    * the quantized grid can't express — plus the integral/date types as
    * a fallback when the build leaf lacks usable footer stats). */
  private[rpt] def envelopeSupported(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: StringType | _: FloatType | _: DoubleType | _: ByteType |
           _: ShortType | _: IntegerType | _: LongType | _: DateType => true
      case _ => false
    }
  }

  /** A bundled `graft-parquet` DSv2 relation — the runtime-filterable
    * source the in-scan transfer paths push into. */
  private[rpt] object GraftRelation {
    def unapply(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[org.apache.spark.sql.graft.sources.GraftParquetTable] =>
        Some(r)
      case _ => None
    }
  }

  // Helper executions (the keep gate's planning-time counts) run the FULL
  // optimizer on the calling thread; this flag keeps the rule from
  // re-entering itself through them.
  // depth counter, not a boolean: an inner nested call must not clear the
  // guard for a still-running outer one
  private val nestedDepth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }
  private[rpt] def inNestedExecution: Boolean = nestedDepth.get() > 0
  private[rpt] def nested[T](body: => T): T = {
    nestedDepth.set(nestedDepth.get() + 1)
    try body finally nestedDepth.set(nestedDepth.get() - 1)
  }
}

/** Planning-time row counts of filtered table units — the keep-fraction
 *  fallback of the banked-filter gate — cached per plan shape across
 *  queries (the same unit recurs query after query; the fixture/ETL
 *  pattern is a stable set of filtered dims). Entries expire after a TTL so
 *  data changing under a live session cannot mis-gate probes indefinitely
 *  (stale counts only move a gate — results stay correct either way).
 *  Count failures degrade to None — the gate treats the keep as unknown. */
private[rpt] object RuntimeCounts {
  private val TTL_NANOS = 10L * 60 * 1000 * 1000 * 1000 // 10 minutes
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  def count(plan: LogicalPlan): Option[Long] = {
    val key = plan.canonicalized.toString
    val now = System.nanoTime()
    Option(cache.get(key)).collect {
      case (n, at) if now - at < TTL_NANOS => n
    }.orElse {
      try {
        val n = PredicateTransferRule.nested(SqlBridge.countRows(plan))
        if (cache.size > 512) evict(now)
        cache.put(key, (n, now))
        Some(n)
      } catch { case _: Exception => None }
    }
  }

  /** Over-cap eviction: expired entries first, then the oldest half —
    * keeps the newest counts instead of thrashing a clear-all when a
    * workload has >512 live unit shapes. */
  private def evict(now: Long): Unit = synchronized {
    if (cache.size <= 512) return
    cache.entrySet().removeIf(e => now - e.getValue._2 >= TTL_NANOS)
    if (cache.size > 512) {
      import scala.jdk.CollectionConverters._
      cache.asScala.toSeq.sortBy(_._2._2).take(cache.size / 2)
        .foreach { case (k, _) => cache.remove(k) }
    }
  }
}
