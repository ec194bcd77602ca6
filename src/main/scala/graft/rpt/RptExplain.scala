package graft.rpt

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ScalarSubquery}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}

/**
 * Reference-style EXPLAIN for transfer plans: the reference renders its
 * operators by name (`CREATE_BF` at src/operators/logical_create_bf.cpp:
 * 22-61, `USE_BF` at logical_use_bf.cpp) and its README instructs users to
 * verify the rewrite via EXPLAIN (reference README.md:77-78). In Spark the
 * probes appear as anonymous `Filter(might_contain(...))` nodes, so this
 * helper annotates the optimized plan with the same operator identities:
 *
 * {{{
 *   USE_BF[fwd] on Filter(part) keys=(l_partkey) <- CREATE_BF#0
 *   CREATE_BF#0[fwd] over Project(Filter(part)) keys=(p_partkey) items=4096
 * }}}
 *
 * `RptExplain.explain(df)` — text only, no execution required.
 */
object RptExplain {

  /** The reference's `rpt_display_physical_dag` analog: the boxed transfer
    * tree (dag_printer.cpp RenderSubtree) with each unit annotated by its
    * MEASURED probe rows/selectivity from the executed plan's metrics.
    * Requires an action to have run on `df` (metrics are post-execution)
    * and joins against the schedule tagged on `df`'s own optimized plan. */
  def displayPhysicalDag(df: DataFrame): String =
    PredicateTransferRule.scheduleOf(df.queryExecution.optimizedPlan) match {
      case Some((g, ops)) =>
        DagPrinter.renderPhysical(g, ops, df.queryExecution)
      case None => "rpt: no transfer schedule planned for this query"
    }

  private case class Probe(
      target: String, pass: String, keys: Seq[Expression], createId: Int)
  private case class Create(
      id: Int, pass: String, over: String, keys: Seq[Expression],
      items: Option[Long])

  def explain(df: DataFrame): String =
    explain(df.queryExecution.optimizedPlan)

  def explain(plan: LogicalPlan): String = {
    val creates = collection.mutable.LinkedHashMap[ScalarSubquery, Create]()
    val probes = collection.mutable.ArrayBuffer[Probe]()

    def describe(p: LogicalPlan): String = p match {
      case f: Filter => s"Filter(${describe(f.child)})"
      case other if other.children.isEmpty =>
        val cols = other.output.take(2).map(_.name).mkString(",")
        s"${other.nodeName}[$cols${if (other.output.size > 2) ",…" else ""}]"
      case other => s"${other.nodeName}(${other.children.map(describe).mkString(", ")})"
    }

    def passOf(ss: ScalarSubquery): String = ss.plan match {
      case Aggregate(_, aggs, _, _)
          if aggs.exists(_.name.contains("graft_rpt_bf_bwd")) => "bwd"
      case Aggregate(_, aggs, _, _)
          if aggs.exists(_.name.contains("graft_rpt_bf_fwd")) => "fwd"
      case _ => "?"
    }

    def isRpt(ss: ScalarSubquery): Boolean = ss.plan match {
      case Aggregate(_, aggs, _, _) =>
        aggs.exists(_.name.startsWith("graft_rpt_bf"))
      case _ => false
    }

    def createOf(ss: ScalarSubquery): Create =
      creates.getOrElseUpdate(ss, {
        val items = ss.plan.collectFirst {
          case Aggregate(_, aggs, _, _) => aggs.headOption
        }.flatten.flatMap(_.collectFirst {
          case bf: org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate =>
            bf.estimatedNumItemsExpression match {
              case l: org.apache.spark.sql.catalyst.expressions.Literal =>
                l.value.asInstanceOf[Number].longValue()
            }
        })
        val keys = ss.plan.collectFirst {
          case Aggregate(_, _, child, _) => child.output.map(_.asInstanceOf[Expression])
        }.getOrElse(Nil)
        Create(creates.size, passOf(ss),
          ss.plan.children.headOption.map(describe).getOrElse("?"),
          keys, items)
      })

    plan.foreach {
      case f @ Filter(cond, child) =>
        cond.foreach {
          case bf: BloomFilterMightContain =>
            bf.bloomFilterExpression match {
              case ss: ScalarSubquery if isRpt(ss) =>
                val c = createOf(ss)
                probes += Probe(describe(child), c.pass,
                  Seq(bf.valueExpression), c.id)
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }

    if (probes.isEmpty) return "rpt: no transfer operators in this plan"
    val sb = new StringBuilder("rpt transfer operators:\n")
    probes.foreach { p =>
      sb.append(s"  USE_BF[${p.pass}] on ${p.target} " +
        s"probe=${p.keys.map(_.sql).mkString(",")} <- CREATE_BF#${p.createId}\n")
    }
    creates.values.foreach { c =>
      val items = c.items.map(i => s" items=$i").getOrElse("")
      sb.append(s"  CREATE_BF#${c.id}[${c.pass}] over ${c.over}$items\n")
    }
    sb.toString
  }
}
