package graft.rpt

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Randomized join-shape differential fuzzer — the breadth the reference
 * buys with its 113 diverse JOB queries (test_job_queries.sh:206-299), which
 * this sandbox cannot replay for lack of the IMDB data. Each generated plan
 * is a random 5–17-table join tree over the TPC-H-ish fixtures with:
 *
 *  - mixed join types (inner / left outer / left semi / left anti),
 *  - self-joins (repeat aliases of one table, joined on its key),
 *  - random filter forms (IN / LIKE / BETWEEN (numeric and timestamp) /
 *    IS [NOT] NULL, including always-false filters that force EMPTY build
 *    sides),
 *  - barrier units at random positions (grouped aggregate, window, UNION
 *    ALL, global aggregate — both as join inputs and as mid-tree wrappers
 *    of the accumulated join),
 *
 * asserted rule-on ≡ rule-off (order-insensitive count + hash-sum
 * fingerprint) under BOTH schedule heuristics × BOTH pass modes. Failures
 * replay exactly: the generator is a pure function of the printed seed, and
 * the assertion message carries the full structure descriptor.
 *
 * Scale note: runs on the sf0.001 fixture because shape coverage, not data
 * volume, is what this suite buys (volume behavior is pinned by the bench
 * and the sf0.1/sf1/sf10 RPTBENCH artifacts). GRAFT_FUZZ_N deepens the
 * sweep for one-off soak runs.
 */
class JoinShapeFuzzSuite extends SparkTestBase {

  /** Directed attachment edge: a new alias of `ct` can join column `cc`
    * against an existing alias of `pt`'s column `pc`. `fanout` is the
    * approximate row multiplication for the accumulated join (many-side
    * attachments multiply; pk-side attachments don't) — used only to keep
    * the generator away from row explosion, never for correctness. */
  private case class Edge(pt: String, pc: String, ct: String, cc: String,
      fanout: Double)

  private val edges = Seq(
    Edge("lineitem", "l_orderkey", "orders", "o_orderkey", 1),
    Edge("orders", "o_orderkey", "lineitem", "l_orderkey", 4),
    Edge("lineitem", "l_partkey", "part", "p_partkey", 1),
    Edge("part", "p_partkey", "lineitem", "l_partkey", 30),
    Edge("lineitem", "l_suppkey", "supplier", "s_suppkey", 1),
    Edge("supplier", "s_suppkey", "lineitem", "l_suppkey", 600),
    Edge("orders", "o_custkey", "customer", "c_custkey", 1),
    Edge("customer", "c_custkey", "orders", "o_custkey", 10),
    Edge("customer", "c_nationkey", "nation", "n_nationkey", 1),
    Edge("nation", "n_nationkey", "customer", "c_nationkey", 6),
    Edge("supplier", "s_nationkey", "nation", "n_nationkey", 1),
    Edge("nation", "n_nationkey", "supplier", "s_nationkey", 0.4),
    Edge("customer", "c_nationkey", "supplier", "s_nationkey", 0.4),
    Edge("supplier", "s_nationkey", "customer", "c_nationkey", 6),
    Edge("nation", "n_regionkey", "region", "r_regionkey", 1),
    Edge("region", "r_regionkey", "nation", "n_regionkey", 5),
    // self-joins on the table's own key
    Edge("orders", "o_orderkey", "orders", "o_orderkey", 1),
    Edge("customer", "c_custkey", "customer", "c_custkey", 1),
    Edge("part", "p_partkey", "part", "p_partkey", 1),
    Edge("supplier", "s_suppkey", "supplier", "s_suppkey", 1),
    Edge("nation", "n_nationkey", "nation", "n_nationkey", 1),
    Edge("region", "r_regionkey", "region", "r_regionkey", 1),
    Edge("lineitem", "l_orderkey", "lineitem", "l_orderkey", 4))

  /** Per-table alias cap — bounds worst-case fan-out while still allowing
    * the JOB maximum of 17 tables (caps sum to 20). */
  private val aliasCap = Map("lineitem" -> 3, "orders" -> 3, "customer" -> 3,
    "supplier" -> 3, "part" -> 3, "nation" -> 3, "region" -> 2)

  /** Filter pool per table: IN, LIKE, BETWEEN (numeric + timestamp),
    * null tests. The IS NULL entries match ZERO fixture rows — they are the
    * deliberate empty-build cases. */
  private val filterPool: Map[String, Seq[String]] = Map(
    "customer" -> Seq(
      "c_mktsegment IN ('BUILDING','AUTOMOBILE','MACHINERY')",
      "c_acctbal BETWEEN 0 AND 5000",
      "c_name LIKE '%1%'",
      "c_acctbal IS NULL",
      "c_nationkey IS NOT NULL"),
    "orders" -> Seq(
      "o_orderstatus IN ('F','P')",
      "o_totalprice BETWEEN 1000 AND 150000",
      "o_orderpriority LIKE '1%'",
      "o_orderdate BETWEEN TIMESTAMP'1995-06-01' AND TIMESTAMP'1998-06-30'",
      "o_custkey IS NULL"),
    "lineitem" -> Seq(
      "l_quantity BETWEEN 5 AND 45",
      "l_returnflag IN ('A','N')",
      "l_linestatus LIKE 'O%'",
      "l_shipdate BETWEEN TIMESTAMP'1996-01-01' AND TIMESTAMP'1999-12-31'",
      "l_discount IS NOT NULL"),
    "part" -> Seq(
      "p_size BETWEEN 1 AND 30",
      "p_name LIKE '%e%'",
      "p_brand IN ('Brand#19','Brand#23','Brand#15')",
      "p_retailprice IS NULL"),
    "supplier" -> Seq(
      "s_acctbal BETWEEN -500 AND 8000",
      "s_name LIKE '%1%'",
      "s_nationkey IS NOT NULL"),
    "nation" -> Seq(
      "n_name LIKE 'NATION_1%'",
      "n_name IN ('NATION_3','NATION_7','NATION_11')",
      "n_regionkey BETWEEN 0 AND 2"),
    "region" -> Seq(
      "r_name IN ('ASIA','EUROPE')",
      "r_name LIKE 'A%'"))

  private def keyOf(t: String): String = t match {
    case "lineitem" => "l_orderkey"
    case "orders" => "o_orderkey"
    case "customer" => "c_custkey"
    case "supplier" => "s_suppkey"
    case "part" => "p_partkey"
    case "nation" => "n_nationkey"
    case "region" => "r_regionkey"
  }

  /** One generated alias: its table, the columns still addressable on the
    * accumulated DataFrame (prefixed `a<id>_<col>`), and whether later
    * aliases may attach to it (semi/anti-joined aliases may not — their
    * columns are gone from the output; barrier-collapsed aliases lose all
    * but the grouping column). */
  private case class Alias(id: Int, table: String, cols: Set[String],
      attachable: Boolean)

  private case class Generated(df: DataFrame, desc: String, nTables: Int,
      nCycles: Int)

  /** Pure function of `(seed, tbls, tblsV2)` — replays exactly. Must be
    * re-invoked per conf variant: a Dataset caches its QueryExecution, so
    * reusing one DataFrame across variants would silently test one plan
    * four times. `tbls`/`tblsV2` carry the worker session's own table
    * DataFrames (stock parquet and the runtime-filterable graft-parquet
    * source) so instances can run on parallel sessions; ~1 in 4 aliases
    * reads through the v2 source, fuzzing the in-scan splice path. */
  private def generate(seed: Long, tbls: Map[String, DataFrame],
      tblsV2: Map[String, DataFrame]): Generated = {
    val rnd = new scala.util.Random(seed)
    val desc = new StringBuilder
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.size))

    def tableFor(t: String): (DataFrame, String) =
      if (rnd.nextInt(4) == 0) (tblsV2(t), "v2:") else (tbls(t), "")

    def maybeFilter(t: String, p: Double): Option[String] =
      if (rnd.nextDouble() < p) Some(pick(filterPool(t))) else None

    def prefixed(df: DataFrame, id: Int): DataFrame =
      df.select(df.columns.map(c => col(c).as(s"a${id}_$c")).toSeq: _*)

    // returns (unit plan, addressable source columns, selectivity estimate,
    // descriptor); barrier units keep ONLY the join column
    def buildUnit(id: Int, t: String, cc: String): (DataFrame, Set[String], Double, String) = {
      val (base, srcTag) = tableFor(t)
      rnd.nextInt(10) match {
        case 0 | 1 => // grouped aggregate barrier
          val f = maybeFilter(t, 0.5)
          val d = f.map(base.where).getOrElse(base)
            .groupBy(col(cc)).agg(count(lit(1)).as("cnt"))
          (prefixed(d, id), Set(cc), 0.8, s"${srcTag}agg(${f.getOrElse("")})")
        case 2 => // window barrier (deterministic aggregate window, no ties)
          val f = maybeFilter(t, 0.5)
          val d = f.map(base.where).getOrElse(base)
            .select(col(cc),
              count(lit(1)).over(Window.partitionBy(col(cc))).as("wcnt"))
            .where(col("wcnt") >= 1)
          (prefixed(d, id), Set(cc), 1.0, s"${srcTag}window(${f.getOrElse("")})")
        case 3 => // UNION ALL barrier (two filtered branches)
          val f1 = pick(filterPool(t)); val f2 = pick(filterPool(t))
          val d = base.where(f1).select(col(cc))
            .unionAll(base.where(f2).select(col(cc)))
          (prefixed(d, id), Set(cc), 1.0, s"${srcTag}union($f1|$f2)")
        case 4 => // global aggregate barrier (one row)
          val f = maybeFilter(t, 0.5)
          val d = f.map(base.where).getOrElse(base).agg(max(col(cc)).as(cc))
          (prefixed(d, id), Set(cc), 0.01, s"${srcTag}gagg(${f.getOrElse("")})")
        case _ => // plain (possibly filtered) table
          val f = maybeFilter(t, 0.55)
          val d = f.map(base.where).getOrElse(base)
          (prefixed(d, id), base.columns.toSet,
            if (f.isDefined) 0.5 else 1.0, srcTag + f.getOrElse("plain"))
      }
    }

    val nTarget = 5 + rnd.nextInt(13) // 5..17 tables
    val t0 = pick(edges.map(_.pt).distinct)
    val (df0, cols0, _, d0) = buildUnit(0, t0, keyOf(t0))
    desc ++= s"a0=$t0[$d0]"
    var acc = df0
    var aliases = Vector(Alias(0, t0, cols0, attachable = true))
    var nextId = 1
    var est: Double = 6000.0
    var nCycles = 0

    // mid-tree barrier: grouped-aggregate the ACCUMULATED join so the
    // schedule sees joins both below and above a barrier; also the fallback
    // that resets the row estimate when every candidate would explode
    def collapse(): Boolean = {
      // only grouping columns with OUTGOING edges keep the generator alive
      // after the collapse (a dead-end column like c_mktsegment would
      // strand the plan below the 5-table floor)
      val open = aliases.filter(a => a.attachable &&
        edges.exists(e => e.pt == a.table && a.cols.contains(e.pc)))
      if (open.isEmpty) false
      else {
        val a = pick(open)
        val c = pick(a.cols.toSeq.sorted
          .filter(c0 => edges.exists(e => e.pt == a.table && e.pc == c0)))
        acc = acc.groupBy(col(s"a${a.id}_$c"))
          .agg(count(lit(1)).as(s"bar${nextId}_cnt"))
        aliases = aliases.map(x =>
          if (x.id == a.id) x.copy(cols = Set(c))
          else x.copy(cols = Set.empty, attachable = false))
        est = math.min(est, 2000.0)
        desc ++= s" BARRIER(a${a.id}.$c)"
        true
      }
    }

    var steps = 0
    while (aliases.size < nTarget && steps < nTarget * 3) {
      steps += 1
      val candidates = for {
        a <- aliases if a.attachable
        e <- edges
        // cap counts only ATTACHABLE aliases: semi/anti-joined aliases
        // don't multiply rows and must not exhaust a small table's slots
        // (a region root with three semi-joined nations would strand the
        // frontier below the 5-table floor otherwise); total width stays
        // bounded by nTarget
        if e.pt == a.table && a.cols.contains(e.pc) &&
          aliases.count(x => x.table == e.ct && x.attachable) < aliasCap(e.ct) &&
          est * e.fanout <= 2e6
      } yield (a, e)
      if (candidates.isEmpty) {
        if (!collapse()) steps = nTarget * 3 // stuck — stop generating
      } else {
        val (pa, e) = pick(candidates)
        val id = nextId; nextId += 1
        val (unit, ucols, sel, ud) = buildUnit(id, e.ct, e.cc)
        // ~1 in 6 attaches: CYCLE attach — the new alias joins on TWO
        // existing aliases at once (a second equi pair to a different
        // parent in one join condition). The join graph then has a
        // multi-parent node closing a loop through the tree, so the MST
        // heuristic must drop an edge and joinOrder exercises its
        // multi-parent DAG / cycle fallback — previously covered only by
        // the fixed diamond test (every generated graph was a tree by
        // construction). The second edge's child column must survive the
        // unit (a barrier unit keeps only the primary join column).
        val second: Option[(Alias, Edge)] =
          if (rnd.nextInt(6) != 0) None
          else {
            val alts = candidates.filter { case (a2, e2) =>
              e2.ct == e.ct && a2.id != pa.id && ucols.contains(e2.cc) }
            if (alts.isEmpty) None else Some(pick(alts))
          }
        val jt = if (second.isDefined) "inner" else rnd.nextInt(10) match {
          case 0 => "left_outer"
          case 1 => "left_semi"
          case 2 => "left_anti"
          case _ => "inner"
        }
        // ~15% computed join keys: the same INJECTIVE transform on both
        // sides (match structure identical to the bare-attribute edge, so
        // no fan-out change) — fuzzes the rule's key extraction on
        // non-attribute expressions (all edge keys are numeric)
        val (cond0, keyTag) = rnd.nextInt(7) match {
          case 0 =>
            ((col(s"a${pa.id}_${e.pc}") + lit(1)) ===
              (col(s"a${id}_${e.cc}") + lit(1)), "+1")
          case _ =>
            (col(s"a${pa.id}_${e.pc}") === col(s"a${id}_${e.cc}"), "")
        }
        val cond = second match {
          case Some((pa2, e2)) =>
            cond0 && (col(s"a${pa2.id}_${e2.pc}") === col(s"a${id}_${e2.cc}"))
          case None => cond0
        }
        acc = acc.join(unit, cond, jt)
        val keepsCols = jt == "inner" || jt == "left_outer"
        aliases :+= Alias(id, e.ct, if (keepsCols) ucols else Set.empty,
          attachable = keepsCols)
        if (keepsCols) est = math.max(1.0, est * e.fanout * sel)
        desc ++= s" a$id=${e.ct}[$ud] $jt a${pa.id}.${e.pc}=${e.cc}$keyTag"
        second.foreach { case (pa2, e2) =>
          nCycles += 1
          desc ++= s" CYCLE(a${pa2.id}.${e2.pc}=${e2.cc})"
        }
        if (aliases.size >= 3 && aliases.size < nTarget && rnd.nextInt(8) == 0)
          collapse()
      }
    }

    Generated(acc, desc.toString, aliases.size, nCycles)
  }

  /** Order-insensitive fingerprint: row count + sum of row hashes. The
    * hash is shifted down 24 bits so the ANSI-mode sum cannot overflow
    * (2^40 max per row × ≤2^21 rows < 2^63). */
  private def fp(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)),
      sum(shiftrightunsigned(xxhash64(cols: _*), 24))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  // reference-faithful payoff gates would suppress every transfer on the
  // tiny in-memory fixture and make the sweep vacuous (same as
  // TransferPropertySuite)
  private val openGates = Seq(
    RptConf.MIN_PROBE_ROWS -> "0",
    RptConf.MIN_BUILD_PROBE_RATIO -> "0",
    RptConf.FILTERED_BUILDS_ONLY -> "false",
    RptConf.SKIP_BROADCASTABLE_BUILDS -> "false",
    RptConf.WAVE_COST_BYTES -> "0")

  // sweep throughput: AQE re-optimization and 4-partition exchanges add
  // ~3x wall time per plan with zero shape coverage on a 6k-row fixture;
  // the rule×AQE interplay has its own dedicated pin in
  // PredicateTransferSuite, so the sweep runs AQE-off
  private val sweepConfs = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> "2")

  private val combos = Seq(
    ("largestRoot", "both"), ("largestRoot", "forwardOnly"),
    ("joinOrder", "both"), ("joinOrder", "forwardOnly"))

  // Per-seed combo rotation: each seed runs two of the four combos (the
  // complementary pair keeps a heuristic AND a pass-mode contrast inside
  // every seed), so each combo still covers half the sweep's plans while
  // per-plan cost halves. GRAFT_FUZZ_FULL=1 runs all four per plan.
  private val fuzzFull = sys.env.get("GRAFT_FUZZ_FULL").contains("1")
  private val comboPairs = Seq(
    Seq(("largestRoot", "both"), ("joinOrder", "forwardOnly")),
    Seq(("joinOrder", "both"), ("largestRoot", "forwardOnly")))
  private def combosFor(seed: Int): Seq[(String, String)] =
    if (fuzzFull) combos else comboPairs(seed % 2)

  private val nPlans = sys.env.getOrElse("GRAFT_FUZZ_N", "200").toInt

  // a worker owns a private newSession() (shared SparkContext, isolated
  // SQLConf + temp-view catalog), so combos can set session confs without
  // racing other workers; nThreads=4 saturates the local[4] context with
  // these sub-second jobs
  private val nThreads = sys.env.getOrElse("GRAFT_FUZZ_THREADS", "4").toInt

  test(s"$nPlans random 5-17-table plans: rule-on == rule-off under all " +
      "heuristic x passMode combos") {
    val rewritten = new java.util.concurrent.atomic.AtomicInteger(0)
    val tablesTotal = new java.util.concurrent.atomic.AtomicInteger(0)
    val tablesMin = new java.util.concurrent.atomic.AtomicInteger(Int.MaxValue)
    val cyclesTotal = new java.util.concurrent.atomic.AtomicInteger(0)
    // over-cap slices (seed%11 in {2,3}) that actually planned an in-scan
    // delivery — the adversarial-grid coverage must not be vacuous
    val quantGridPlans = new java.util.concurrent.atomic.AtomicInteger(0)
    // relative-admission slice (seed%11 == 4) plans that actually planned
    // a transfer: under the forced 1-row absolute cap every one of these
    // is an admitted-over-absolute build with big-BF sizing
    val bigBuildPlans = new java.util.concurrent.atomic.AtomicInteger(0)
    // work-floor slice (seed%11 == 5): the byte ladder must actually
    // straddle the boundary — some plans transfer, some stand down
    val floorKeptPlans = new java.util.concurrent.atomic.AtomicInteger(0)
    val floorStoodDown = new java.util.concurrent.atomic.AtomicInteger(0)
    // mis-estimated-stats slice (seed%11 == 6): skewed sizeInBytes +
    // banked-filter ladder must reach both outcomes, never change results
    val misEstKept = new java.util.concurrent.atomic.AtomicInteger(0)
    val misEstStood = new java.util.concurrent.atomic.AtomicInteger(0)
    // banked-filter ladder slice (seed%11 == 1): banking stands filtered
    // probe sites down — plans with zero surviving probes are legal, but
    // the ladder must not suppress everything across the slice, and
    // results must stay identical
    val bankKept = new java.util.concurrent.atomic.AtomicInteger(0)
    val bankStood = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val chunks = (1 to nPlans).grouped(math.max(1, nPlans / nThreads + 1)).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(chunks.size)
    val jobs = chunks.map { seeds =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val s = spark.newSession()
          (sweepConfs ++ openGates :+ (RptConf.FAIL_FAST -> "true"))
            .foreach { case (k, v) => s.conf.set(k, v) }
          val names = Seq("region", "nation", "customer", "supplier", "part",
            "orders", "lineitem")
          val tbls =
            names.map(n => n -> s.read.parquet(s"$sfDir/$n.parquet")).toMap
          val tblsV2 = names.map(n => n ->
            s.read.format("graft-parquet").load(s"$sfDir/$n.parquet")).toMap
          seeds.foreach { seed =>
            // gate matrix: most seeds run the default gates; each slice
            // below forces one path — all must stay result-identical to
            // rule-off
            val gates: Seq[(String, String)] = seed % 11 match {
              case 0 => Seq( // over-cap with the quantized path off: cap -1
                // puts every build over it, so no in-scan channel fires
                // and the bloom probe carries the transfer alone
                RptConf.V2_SCAN_FILTER_MAX_BUILD_ROWS -> "-1",
                RptConf.V2_QUANTIZED_OVER_CAP -> "false")
              case 1 => Seq( // banked-filter LADDER: banking stands down
                // filtered probe sites; the ladder spans the default
                // multiple through a huge one that banks every strongly
                // filtered site. Zero-probe plans are legal; the slice
                // counters assert the ladder doesn't suppress every plan
                RptConf.FILTERED_PROBE_WAVE_MULTIPLE ->
                  Seq("64", "1048576")(seed % 2))
              case 2 => Seq( // quantized over-cap alone (default-on path):
                // every build over the cap, anchors through the DPS channel
                RptConf.V2_SCAN_FILTER_MAX_BUILD_ROWS -> "-1")
              case 4 => Seq( // probe-relative BIG-BUILD admission
                // (RPTBENCH_r13 part 2): absolute cap forced to 1 row so
                // EVERY planned transfer rides the relative path
                // (build.card <= probe.card x fraction) and sizes its BF
                // by bigBuildMaxBfItems; shuffle regime because the
                // relative path is scoped to autoBroadcastJoinThreshold<=0
                RptConf.MAX_BUILD_ROWS -> "1",
                RptConf.BIG_BUILD_PROBE_FRACTION -> "1.0",
                "spark.sql.autoBroadcastJoinThreshold" -> "-1")
              case 5 => Seq( // total-work floor at the BOUNDARY: byte
                // ladders spanning the tiny fixture's plan sizes, so
                // across the slice some plans stand fully down (a flat
                // wave cost no budget can fund — most of these plans
                // carry a v2 relation, so the minPlanWork fast bail is
                // bypassed and the stand-down must come from the budget
                // itself), some trim to a partial schedule, some keep
                // every wave — all states must stay result-identical to
                // rule-off. Build-byte charging varies too.
                RptConf.MIN_PLAN_WORK_BYTES ->
                  Seq("0", "65536", "1048576")(seed % 3),
                RptConf.WAVE_WORK_FRACTION -> "1.0",
                RptConf.WAVE_BUILD_FRACTION ->
                  Seq("0.0", "0.25", "1.0")(seed % 3),
                // half the slice disables the deep-plan minimum budget so
                // full stand-downs stay covered on deep generated plans;
                // the other half exercises the deep-min path itself
                RptConf.DEEP_PLAN_EDGES ->
                  Seq("99", "2")(seed % 2),
                RptConf.WAVE_COST_BYTES ->
                  Seq("4096", "65536", "16777216",
                    "1073741824")(seed % 4))
              case 6 => Seq( // MIS-ESTIMATED stats (VERDICT r15 #8):
                // openCostInBytes skews every leaf's sizeInBytes by
                // orders of magnitude in either direction, so the floor
                // budget AND the banked-filter gate read pure fiction —
                // a mis-estimated budget must only cost speed, never
                // results. The filteredProbe ladder spans disabled /
                // gate-everything / default / gate-nothing.
                "spark.sql.files.openCostInBytes" ->
                  Seq("0", "134217728", "1073741824")(seed % 3),
                RptConf.MIN_PLAN_WORK_BYTES -> Seq("0", "1048576")(seed % 2),
                RptConf.WAVE_WORK_FRACTION -> "1.0",
                RptConf.WAVE_COST_BYTES ->
                  Seq("4096", "16777216", "1073741824")(seed / 3 % 3),
                // half the slice disables the deep-plan minimum budget
                // (as the work-floor slice does): every generated plan is
                // >= 5 tables, so with deep-min on, edges/2 funded waves
                // make the 1 GB wave-cost rungs vacuous — the stood-down
                // side was 0/18 at the default sweep scale (r16 red test).
                // With deep-min off, seed 6 (openCost 0, wave cost 1 GB,
                // tiny true bytes) deterministically stands fully down.
                RptConf.DEEP_PLAN_EDGES -> Seq("99", "6")(seed % 2),
                RptConf.FILTERED_PROBE_WAVE_MULTIPLE ->
                  Seq("0", "1048576", "64", "1")(seed % 4))
              case 3 => Seq( // ADVERSARIAL grids: buckets from degenerate 1
                // (one span-wide anchor) through span-sized (width-1
                // anchors == the exact key set) to absurdly oversized —
                // the coverage invariant (anchor(k) <= k <= anchor(k)+w)
                // must hold for ANY grid resolution, which is exactly what
                // makes STALE footer-derived grids harmless: a stale grid
                // is just a different-resolution grid over the same total
                // key domain. The suite pins fixed points; this slice
                // soaks random plans x random resolutions.
                RptConf.V2_SCAN_FILTER_MAX_BUILD_ROWS -> "-1",
                RptConf.V2_QUANT_BUCKETS ->
                  Seq("1", "2", "3", "7", "4096", "1073741824")(seed % 6))
              case _ => Seq.empty
            }
            try {
              gates.foreach { case (k, v) => s.conf.set(k, v) }
              val gen0 = generate(seed.toLong, tbls, tblsV2)
              tablesTotal.addAndGet(gen0.nTables)
              tablesMin.getAndUpdate(m => math.min(m, gen0.nTables))
              cyclesTotal.addAndGet(gen0.nCycles)
              s.conf.set(RptConf.ENABLED, "false")
              val off = fp(gen0.df)
              val cs = combosFor(seed)
              cs.foreach { case (heur, pass) =>
                s.conf.set(RptConf.ENABLED, "true")
                s.conf.set(RptConf.HEURISTIC, heur)
                s.conf.set(RptConf.PASS_MODE, pass)
                val gen = generate(seed.toLong, tbls, tblsV2) // fresh QueryExecution
                if ((heur, pass) == cs.head) {
                  val planStr = gen.df.queryExecution.optimizedPlan.toString
                  if (planStr.contains("might_contain")) {
                    rewritten.incrementAndGet()
                  }
                  if (seed % 11 == 2 || seed % 11 == 3) {
                    if (planStr.contains("dynamicpruning")) {
                      quantGridPlans.incrementAndGet()
                    }
                  }
                  if (seed % 11 == 4 && planStr.contains("might_contain")) {
                    bigBuildPlans.incrementAndGet()
                  }
                  if (seed % 11 == 5) {
                    if (planStr.contains("might_contain")) {
                      floorKeptPlans.incrementAndGet()
                    } else floorStoodDown.incrementAndGet()
                  }
                  if (seed % 11 == 6) {
                    if (planStr.contains("might_contain")) {
                      misEstKept.incrementAndGet()
                    } else misEstStood.incrementAndGet()
                  }
                  if (seed % 11 == 1) {
                    if (planStr.contains("might_contain")) {
                      bankKept.incrementAndGet()
                    } else bankStood.incrementAndGet()
                  }
                }
                val on = fp(gen.df)
                if (on != off) failures.add(
                  s"seed=$seed $heur/$pass gates=$gates changed results ($on vs $off) for:\n${gen0.desc}")
              }
            } catch {
              case e: Throwable =>
                if (sys.env.contains("GRAFT_FUZZ_TRACE")) {
                  var t: Throwable = e
                  while (t.getCause != null && t.getCause != t) t = t.getCause
                  System.err.println(s"TRACE seed=$seed deepest=$t")
                  t.getStackTrace.take(35)
                    .foreach(x => System.err.println("    " + x))
                }
                failures.add(
                s"seed=$seed gates=$gates threw ${e.getClass.getSimpleName}: ${e.getMessage}")
            } finally {
              // restore to the session's SWEEP baseline, not the shipping
              // default: unset alone would resurrect default-on gates the
              // sweep holds open (the work floor suppressed 85% of later
              // seeds when a floor-slice unset fell back to 32 MB)
              val baseline = (sweepConfs ++ openGates).toMap
              gates.foreach { case (k, _) =>
                baseline.get(k) match {
                  case Some(v) => s.conf.set(k, v)
                  case None => s.conf.unset(k)
                }
              }
            }
          }
        }
      })
    }
    jobs.foreach(_.get())
    pool.shutdown()
    assert(failures.isEmpty, s"${failures.size} differential failures:\n" +
      scala.jdk.CollectionConverters.CollectionHasAsScala(failures).asScala
        .take(5).mkString("\n---\n"))
    info(f"$nPlans plans, ${tablesTotal.get.toDouble / nPlans}%.1f avg tables " +
      s"(min ${tablesMin.get}), ${cyclesTotal.get} cyclic attaches, " +
      s"${rewritten.get} rewritten (first combo per seed), " +
      s"${quantGridPlans.get} over-cap in-scan plans (incl. adversarial grids), " +
      s"${bigBuildPlans.get} relative-admitted big-build plans, " +
      s"floor slice ${floorKeptPlans.get} kept / ${floorStoodDown.get} stood down, " +
      s"mis-est slice ${misEstKept.get} kept / ${misEstStood.get} stood down, " +
      s"bank slice ${bankKept.get} kept / ${bankStood.get} suppressed")
    // the generator must actually produce cyclic join graphs (multi-parent
    // attaches) at sweep scale, not only trees
    if (nPlans >= 100) assert(cyclesTotal.get > 0,
      "no cyclic join graphs generated across the sweep")
    // the over-cap slices (exact + adversarial-grid) must actually deliver
    // in-scan transfers, not silently stand down
    if (nPlans >= 100) assert(quantGridPlans.get > 0,
      "no over-cap in-scan plans across the quant slices")
    // the relative-admission slice must actually admit big builds (plan
    // transfers with the absolute cap at 1 row), not silently stand down
    if (nPlans >= 100) assert(bigBuildPlans.get > 0,
      "no relative-admitted big-build plans across the big-build slice")
    // the work-floor slice must straddle its boundary: plans on both
    // sides (transfers kept under a small floor, stand-down under a
    // fixture-dwarfing one), all result-identical
    if (nPlans >= 100) {
      assert(floorKeptPlans.get > 0,
        "work-floor slice never kept a transfer — ladder too high")
      assert(floorStoodDown.get > 0,
        "work-floor slice never stood down — ladder too low")
      // the mis-estimation slice must be non-vacuous on BOTH sides: some
      // skewed-stats plans keep transfers, some stand down (banked or
      // floored on fictional bytes) — and none changed results above
      assert(misEstKept.get > 0,
        "mis-est slice never kept a transfer — skew ladder too aggressive")
      assert(misEstStood.get > 0,
        "mis-est slice never stood down — skew ladder never bound")
      // the banked-filter ladder must not suppress every plan
      assert(bankKept.get > 0,
        "bank slice suppressed every probe — ladder too aggressive")
    }
    // the generator must reach real JOB widths, and the sweep must actually
    // exercise the rewrite
    assert(tablesMin.get >= 5,
      s"a generated plan fell below 5 tables (${tablesMin.get})")
    assert(rewritten.get * 2 >= nPlans,
      s"only ${rewritten.get}/$nPlans plans were rewritten — gates suppressed the sweep")
  }
}
