package graft.rpt

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans._
import org.apache.spark.sql.catalyst.plans.logical._

/**
 * A "table unit" of the transfer graph: a maximal subplan treated as one
 * leaf for predicate-transfer purposes. Bloom-filter `Filter`s are spliced
 * directly ABOVE `plan`, which is what makes every placement safe
 * irrespective of the unit's interior.
 *
 * Mirrors the reference's table registry — any operator acting as a leaf:
 * GET, FILTER→GET, ungrouped AGGREGATE, set ops, WINDOW
 * (reference: src/optimizer/rpt_optimizer.cpp:74-133,
 * src/optimizer/table_manager.cpp:41-62).
 *
 * @param card      estimated cardinality: rowCount stat, else parquet
 *                  footer metadata ([[ParquetFooters]]), else a
 *                  sizeInBytes-derived proxy — the reference's
 *                  `estimated_cardinality` (table_manager.cpp:64-69).
 * @param buildable false when a bloom filter must not be BUILT over this
 *                  unit (non-deterministic interior: a subquery re-execution
 *                  would see different rows than the main plan).
 * @param cardMeasured true when `card` came from stats or parquet footers
 *                  (trustworthy for bloom-filter sizing), false for the
 *                  bytes proxy (relative ordering only).
 */
case class TableUnit(
    id: Int,
    plan: LogicalPlan,
    card: Double,
    buildable: Boolean,
    cardMeasured: Boolean = false)

/**
 * An equi-join edge between two table units. `keyPairs` holds the join-key
 * expressions as they appear in the condition (attribute, possibly
 * cast-wrapped) — pair._1 belongs to unit `a`, pair._2 to unit `b`.
 *
 * `canFilterA` / `canFilterB` encode outer-join safety: the row-preserved
 * side of an outer join must never be semi-join-reduced. (The reference
 * transfers on LEFT/RIGHT/SEMI wholesale — rpt_optimizer.cpp:53-57 — and is
 * saved by DuckDB's downstream semantics; we are explicit. SURVEY.md §7
 * "hard parts" #2.)
 */
case class JoinEdge(
    a: Int,
    b: Int,
    keyPairs: Seq[(Expression, Expression)],
    canFilterA: Boolean,
    canFilterB: Boolean) {
  def weight: Int = keyPairs.size
  def other(u: Int): Int = if (u == a) b else a
  def keysOf(u: Int): Seq[Expression] =
    if (u == a) keyPairs.map(_._1) else keyPairs.map(_._2)
  def canFilter(u: Int): Boolean = if (u == a) canFilterA else canFilterB
}

case class JoinGraph(units: IndexedSeq[TableUnit], edges: IndexedSeq[JoinEdge])

/**
 * Extracts the join graph from an optimized logical plan.
 *
 * Traversal rules (reference: rpt_optimizer.cpp:45-139):
 *  - equi `Join` (inner / left-outer / right-outer / left-semi / existence)
 *    → recurse both sides, emit edges from `attr = attr` conjuncts;
 *  - `Project`, grouped `Aggregate`, non-unit `Filter`, semi/anti joins,
 *    cross joins → transparent (attribute identity is stable via `ExprId`,
 *    so the reference's rename-chain machinery reduces to alias maps);
 *  - `Filter` directly over a leaf → one unit WITH the filter, so bloom
 *    filters build from filtered rows (the reference lifts CREATE_BF above
 *    filters for the same effect, rpt_optimizer.cpp:1551-1576);
 *  - full-outer joins and other opaque nodes → barrier unit.
 */
object JoinGraph extends PredicateHelper {

  def extract(plan: LogicalPlan): JoinGraph = new Extractor().run(plan)

  private final class Extractor {
    private val units = mutable.ArrayBuffer[TableUnit]()
    private val edges = mutable.ArrayBuffer[JoinEdge]()
    /** attribute ExprId -> unit id owning it (post alias resolution). */
    private val attrToUnit = mutable.HashMap[ExprId, Int]()
    /** alias ExprId -> defining expression (through Project/Aggregate).
     *  Values are full expressions, not just attributes, so COMPUTED join
     *  keys (casts, arithmetic, date_trunc, bucketing) resolve to their
     *  owning unit too — beyond the reference's column-ref-only rename
     *  chain (rpt_optimizer.cpp:101-111). */
    private val aliasTo = mutable.HashMap[ExprId, Expression]()

    def run(plan: LogicalPlan): JoinGraph = {
      visit(plan)
      JoinGraph(units.toIndexedSeq, edges.toIndexedSeq)
    }

    /** (cardinality, measured?) — rowCount stat, else parquet footers of
     *  a single-leaf unit, else the sizeInBytes proxy. */
    private def cardOf(p: LogicalPlan): (Double, Boolean) = {
      val s = p.stats
      s.rowCount.map(c => (c.toDouble, true)).getOrElse {
        val footerCount = p.collectLeaves() match {
          case Seq(leaf) => ParquetFooters.rowCount(leaf)
          case _ => None
        }
        footerCount.map(c => (c.toDouble, true)).getOrElse {
          // sizeInBytes proxy: ~32 bytes/row; only relative order matters
          (math.max(1.0, s.sizeInBytes.toDouble / 32.0), false)
        }
      }
    }

    private def isDeterministicTree(p: LogicalPlan): Boolean =
      !p.exists(n => n.expressions.exists(e => !e.deterministic))

    private def registerUnit(p: LogicalPlan): Int = {
      val id = units.size
      val (card, measured) = cardOf(p)
      units += TableUnit(id, p, card, buildable = isDeterministicTree(p),
        cardMeasured = measured)
      p.output.foreach(a => attrToUnit(a.exprId) = id)
      id
    }

    /** Substitute alias references by their defining expressions until
     *  only unit-owned attributes remain (cycle-guarded via depth cap —
     *  mirroring ResolveColumnBinding, rpt_optimizer.cpp:141-166). */
    private def expand(e: Expression, depth: Int = 0): Expression =
      if (depth > 16) e
      else e.transformUp {
        case a: Attribute if !attrToUnit.contains(a.exprId) &&
            aliasTo.contains(a.exprId) =>
          expand(aliasTo(a.exprId), depth + 1)
      }

    /** The single unit a (possibly computed) key expression evaluates
     *  over, if all of its base references belong to one unit. */
    private def unitOf(e: Expression): Option[Int] = {
      val refs = expand(e).references.toSeq
      val units = refs.flatMap(a => attrToUnit.get(a.exprId)).distinct
      if (refs.nonEmpty && units.size == 1 &&
          refs.forall(a => attrToUnit.contains(a.exprId))) {
        Some(units.head)
      } else None
    }

    /** Rewrite `e` so aliases are replaced by their definitions — the
     *  expression must evaluate against the unit's own output. */
    private def rebase(e: Expression): Expression = expand(e)

    private def recordAliases(exprs: Seq[NamedExpression]): Unit =
      exprs.foreach {
        case al @ Alias(child, _)
            // aggregate results are not per-row computable over the unit;
            // nondeterministic definitions must never be re-evaluated
            if child.deterministic && !child.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression]) =>
          aliasTo(al.exprId) = child
        case _ => ()
      }

    /** Which sides of a join may be filtered (see class doc). */
    private def filterableSides(jt: JoinType): Option[(Boolean, Boolean)] =
      jt match {
        case Inner => Some((true, true))
        case LeftSemi => Some((true, true))
        // ExistenceJoin preserves EVERY left row and emits an exists flag
        // (EXISTS(...) OR cond rewrites) — bloom-filtering the left side
        // would drop rows the enclosing disjunction should keep. Probe only
        // the subquery side, like LeftOuter. (The reference lifts BF ops
        // above its MARK join for the same reason, rpt_optimizer.cpp:1518.)
        case _: ExistenceJoin => Some((false, true))
        case LeftOuter => Some((false, true)) // left rows preserved
        case RightOuter => Some((true, false))
        case _ => None
      }

    private def isLeafLike(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case _ => false
    }

    private def visit(p: LogicalPlan): Unit = p match {
      case Join(left, right, jt, cond, _)
          if filterableSides(jt).isDefined && cond.isDefined =>
        visit(left)
        visit(right)
        val (fLeft, fRight) = filterableSides(jt).get
        val leftOut = AttributeSet(left.output)
        // group equi conjuncts by resolved (unitA, unitB)
        val grouped = mutable.LinkedHashMap[(Int, Int),
          (mutable.ArrayBuffer[(Expression, Expression)], Boolean, Boolean)]()
        splitConjunctivePredicates(cond.get).foreach {
          // equi conjunct: each side may be an attribute OR a computed
          // deterministic expression over one subtree (the reference only
          // matches col = col, rpt_optimizer.cpp:58-62; expression keys
          // hash identically on build and probe, so they transfer too)
          case EqualTo(l, r) if l.deterministic && r.deterministic =>
            for {
              // orient so ._1 comes from the left subtree
              (le, re) <-
                (if (l.references.nonEmpty && l.references.subsetOf(leftOut))
                  Some((l, r))
                 else if (r.references.nonEmpty &&
                     r.references.subsetOf(leftOut)) Some((r, l))
                 else None)
              ul <- unitOf(le); ur <- unitOf(re) if ul != ur
            } {
              val key = (ul, ur)
              val entry = grouped.getOrElseUpdate(key,
                (mutable.ArrayBuffer[(Expression, Expression)](), fLeft, fRight))
              entry._1 += ((rebase(le), rebase(re)))
            }
          case _ => ()
        }
        grouped.foreach { case ((ul, ur), (pairs, fl, fr)) =>
          edges += JoinEdge(ul, ur, pairs.toSeq, canFilterA = fl, canFilterB = fr)
        }

      // semi/anti/cross/existence joins without extractable conditions:
      // transparent — children keep their own units; no edge
      case Join(left, right, LeftSemi | LeftAnti, _, _) =>
        visit(left); visit(right)
      case Join(left, right, _: ExistenceJoin, _, _) =>
        visit(left); visit(right)
      case Join(left, right, Inner | Cross, None, _) =>
        visit(left); visit(right)

      // full outer (and any other join type): barrier unit. Children are
      // still traversed so nested joins form their own edges
      // (reference: rpt_optimizer.cpp:112-124 pattern for barriers).
      case j @ Join(left, right, _, _, _) =>
        visit(left); visit(right)
        registerUnit(j)

      case f @ Filter(_, child) if isLeafLike(child) =>
        registerUnit(f)

      case Filter(_, child) =>
        visit(child)

      case Project(projectList, child) =>
        visit(child)
        recordAliases(projectList)

      case a @ Aggregate(groupingExprs, aggExprs, child, _) =>
        if (groupingExprs.isEmpty) {
          // global aggregate: 1-row barrier (rpt_optimizer.cpp:84-100)
          visit(child)
          registerUnit(a)
        } else {
          // grouped aggregate: transparent for its grouping keys
          visit(child)
          recordAliases(aggExprs)
        }

      case w: Window =>
        visit(w.child)
        registerUnit(w) // barrier (rpt_optimizer.cpp:120-124)

      case u: Union =>
        u.children.foreach(visit)
        registerUnit(u) // barrier (rpt_optimizer.cpp:112-119)

      case s: SetOperation =>
        visit(s.left); visit(s.right)
        registerUnit(s)

      case l: LeafNode =>
        registerUnit(l)

      // row-count-sensitive operators: filtering beneath them would change
      // WHICH rows survive — must be barriers, filters only go above.
      case lim @ (_: GlobalLimit | _: LocalLimit | _: Sample | _: Offset |
                  _: Tail) =>
        lim.children.foreach(visit)
        registerUnit(lim)

      // default: recurse (Sort, RepartitionByExpression, ...) — set-preserving
      // operators are transparent. reference: rpt_optimizer.cpp:134-137
      case other =>
        other.children.foreach(visit)
    }
  }
}
