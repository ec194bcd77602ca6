package graft.rpt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.execution.{BaseSubqueryExec, FilterExec, QueryExecution, ReusedSubqueryExec, ScalarSubquery => ExecScalarSubquery, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.graft.BroadcastBloomBuildExec
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Post-execution report for injected transfer filters — the analog of the
 * reference's profiling surface (`rpt_profiling`,
 * src/include/rpt_profiling.hpp:16-217: per-op rows in/out, sink/probe/
 * finalize timing, per-pass selectivity rollups).
 *
 * Spark-native mechanics: every injected probe is a `FilterExec` whose
 * condition contains `BloomFilterMightContain`, and every build is a
 * subquery; both already carry SQLMetrics. The report reads those metrics
 * after an action has run — no extra instrumentation in the hot path:
 *  - probe rows in/out: the filter's and its child's `numOutputRows`;
 *  - probe time: the `pipelineTime` of the enclosing whole-stage-codegen
 *    span (the probe runs fused with its scan, so stage time is the
 *    honest Spark equivalent of the reference's per-op probe µs);
 *  - build time/size: each build subquery's `collectTime`/`dataSize`.
 */
object RptProfiling {

  final case class ProbeStat(
      node: String, pass: String, rowsIn: Long, rowsOut: Long,
      stageMs: Long, probeCols: Seq[String] = Nil) {
    def selectivity: Double =
      if (rowsIn <= 0) 1.0 else rowsOut.toDouble / rowsIn.toDouble
  }

  /** One executed build. `source` is [[BuildStat.Aggregate]] for a
   *  `bloom_filter_agg` subquery that scans its build side, or
   *  [[BuildStat.Broadcast]] for a filter read from a broadcast the query
   *  already holds ([[BroadcastBloomBuildExec]]). */
  final case class BuildStat(
      name: String, collectMs: Long, dataBytes: Long, reused: Boolean,
      source: String = BuildStat.Aggregate)

  object BuildStat {
    val Aggregate = "aggregate"
    val Broadcast = "broadcast"
  }

  /** Collect per-probe-filter rows in/out (+ enclosing codegen-stage time)
   *  from executed-plan metrics. Valid after an action. */
  def probeStats(qe: QueryExecution): Seq[ProbeStat] = {
    def walk(p: SparkPlan, stageMs: Long): Seq[ProbeStat] = {
      val here = p match {
        // AQE wraps the final plan; query stages wrap materialized subtrees
        case a: AdaptiveSparkPlanExec => return walk(a.executedPlan, stageMs)
        // walk already visits each node's subqueries in its generic tail;
        // adding s.plan.subqueries here would count them twice
        case s: QueryStageExec => return walk(s.plan, stageMs)
        case w: WholeStageCodegenExec =>
          val t = w.metrics.get("pipelineTime").map(_.value).getOrElse(-1L)
          return w.children.flatMap(walk(_, t)) ++
            w.subqueries.flatMap(walk(_, -1L))
        case f: FilterExec
            if f.condition.exists(_.isInstanceOf[BloomFilterMightContain]) =>
          val out = f.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
          val in = f.child.metrics.get("numOutputRows").map(_.value)
            .getOrElse(-1L)
          // the subquery's output attribute carries the pass-tagged alias
          // (robust against ReusedSubquery's terse string form)
          val aliases = f.condition.collect {
            case s: ExecScalarSubquery => s.plan.output.map(_.name)
          }.flatten ++ Seq(f.condition.toString)
          val pass =
            if (aliases.exists(_.contains("graft_rpt_bf_bwd"))) "backward"
            else if (aliases.exists(_.contains("graft_rpt_bf_fwd"))) "forward"
            else "?"
          // probe-key column names let DagPrinter.renderPhysical join this
          // stat back onto the transfer schedule's unit boxes
          val cols = f.condition.collect {
            case BloomFilterMightContain(_, h) =>
              h.collect {
                case a: org.apache.spark.sql.catalyst.expressions.Attribute =>
                  a.name
              }
          }.flatten.distinct
          Seq(ProbeStat(f.child.nodeName, pass, in, out, stageMs, cols))
        case _ => Nil
      }
      here ++ p.children.flatMap(walk(_, stageMs)) ++
        p.subqueries.flatMap(walk(_, -1L))
    }
    walk(qe.executedPlan, -1L)
  }

  /** Per-build timings from subquery metrics, deduped by executed instance
   *  (a reused probe contributes no second build). */
  def buildStats(qe: QueryExecution): Seq[BuildStat] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = collection.mutable.ArrayBuffer[BuildStat]()
    def record(b: BaseSubqueryExec, reused: Boolean): Unit = {
      if (b.schema.fieldNames.exists(_.startsWith("graft_rpt_bf")) &&
          seen.add(b)) {
        out += BuildStat(
          b.schema.fieldNames.head,
          b.metrics.get("collectTime").map(_.value).getOrElse(-1L),
          b.metrics.get("dataSize").map(_.value).getOrElse(-1L),
          reused,
          if (b.isInstanceOf[BroadcastBloomBuildExec]) BuildStat.Broadcast
          else BuildStat.Aggregate)
      }
    }
    def walk(p: SparkPlan): Unit = {
      val node = p match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case s: QueryStageExec => s.plan
        case other => other
      }
      if (!(node eq p)) return walk(node)
      p.expressions.foreach(_.foreach {
        case ss: ExecScalarSubquery =>
          ss.plan match {
            case r: ReusedSubqueryExec => record(r.child, reused = true)
            case b: BaseSubqueryExec => record(b, reused = false); walk(b)
            case _ => ()
          }
        case _ => ()
      })
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(qe.executedPlan)
    out.toSeq
  }

  /** Human-readable report: one line per probe and per build + rollups
   *  (geomean selectivity, rows removed, per-pass summaries — mirroring
   *  rpt_profiling.hpp:122-216). */
  def report(qe: QueryExecution): String = {
    val stats = probeStats(qe)
    val dropped = ResolveBroadcastBuilds.droppedProbes(qe.executedPlan)
    if (stats.isEmpty) {
      return s"rpt: no transfer filters in this plan, $dropped dropped probes"
    }
    val sb = new StringBuilder("rpt probe filters (rows in -> out):\n")
    stats.zipWithIndex.foreach { case (s, i) =>
      val stage = if (s.stageMs >= 0) f"${s.stageMs}%,6d ms stage" else "      --"
      sb.append(f"  #$i%2d [${s.pass}%-8s] ${s.node}%-24s ${s.rowsIn}%,12d -> ${s.rowsOut}%,12d  (${s.selectivity * 100}%6.2f%%)  $stage\n")
    }
    val builds = buildStats(qe)
    if (builds.nonEmpty) {
      sb.append("rpt builds (subquery collect time):\n")
      builds.zipWithIndex.foreach { case (b, i) =>
        val t = if (b.collectMs >= 0) f"${b.collectMs}%,6d ms" else "    --"
        val bytes = if (b.dataBytes >= 0) f"${b.dataBytes}%,d B" else "--"
        sb.append(f"  #$i%2d ${b.name}%-24s ${b.source}%-9s $t  $bytes\n")
      }
    }
    def geo(ss: Seq[ProbeStat]): Double = math.exp(
      ss.map(s => math.log(math.max(s.selectivity, 1e-12))).sum / ss.size)
    val removed = stats.map(s => math.max(0L, s.rowsIn - s.rowsOut)).sum
    // per-pass rollups, mirroring the reference's pass-level summary
    stats.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, ss) =>
      sb.append(f"  $p pass: ${ss.size} probes, geomean selectivity ${geo(ss) * 100}%.2f%%\n")
    }
    val buildMs = builds.map(_.collectMs).filter(_ >= 0).sum
    sb.append(f"  overall: geomean selectivity ${geo(stats) * 100}%.2f%%, rows removed $removed%,d across ${stats.size} probes, ${builds.size} builds ($buildMs%,d ms build time), $dropped dropped probes")
    sb.toString
  }

  def report(df: DataFrame): String = report(df.queryExecution)

  /** Logs the report after every successful action when
   *  `spark.graft.rpt.profiling=true` (the reference prints its profile at
   *  query end when `rpt_profiling` is set, rpt_extension.cpp:57-58).
   *  Registered by GraftSession; library users:
   *  `spark.listenerManager.register(new RptProfilingListener(spark))`. */
  final class RptProfilingListener(
      sparkSession: org.apache.spark.sql.SparkSession)
      extends QueryExecutionListener {
    private def enabled: Boolean = sparkSession.conf
      .getOption(RptConf.PROFILING).exists(_.toBoolean)

    override def onSuccess(
        funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (enabled) {
        val stats = probeStats(qe)
        if (stats.nonEmpty) {
          // scalastyle:off println
          println(s"[graft-rpt] $funcName (${durationNs / 1000000} ms)\n" +
            report(qe))
          // the physical-DAG render rides the same listener when asked for
          if (sparkSession.conf.getOption(RptConf.DISPLAY_PHYSICAL_DAG)
              .exists(_.toBoolean)) {
            PredicateTransferRule.scheduleOf(qe.optimizedPlan).foreach {
              case (g, ops) => println(DagPrinter.renderPhysical(g, ops, qe))
            }
          }
          // scalastyle:on println
        }
      }
    }

    override def onFailure(
        funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
}
