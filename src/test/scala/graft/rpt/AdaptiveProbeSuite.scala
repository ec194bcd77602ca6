package graft.rpt

import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BooleanType, DataType}

/** Scripted predicate that counts how often it is evaluated — lets the
 *  tests observe exactly when [[AdaptiveProbe]] stops consulting its
 *  child. */
case class ScriptedPred(results: Array[java.lang.Boolean])
  extends LeafExpression with Predicate with CodegenFallback {
  var calls: Int = 0
  override def nullable: Boolean = true
  override def dataType: DataType = BooleanType
  override def eval(input: InternalRow): Any = {
    val v = results(calls % results.length)
    calls += 1
    v
  }
}

/**
 * Within-query probe drop (reference analog: the `SelectivityOptionalFilter
 * (1, 1000000)` wrap around pushed BF scan filters,
 * physical_create_bf.cpp:326-328): a partition that measures its spliced
 * bloom probe unselective stops evaluating it mid-query; results are
 * unchanged because the probe is superset-safe.
 */
class AdaptiveProbeSuite extends SparkTestBase {

  private def evalN(p: Expression, n: Int): Seq[Any] =
    (1 to n).map(_ => p.eval(InternalRow.empty))

  test("unselective child latches off at the sample boundary") {
    val child = ScriptedPred(Array(java.lang.Boolean.TRUE))
    val probe = AdaptiveProbe(child, sampleRows = 10, keepThreshold = 0.9)
    val before = AdaptiveProbe.disables
    val out = evalN(probe, 100)
    assert(out.forall(_ == true))
    assert(child.calls == 10,
      s"child must stop being evaluated after the 10-row sample, saw ${child.calls}")
    assert(AdaptiveProbe.disables == before + 1)
  }

  test("selective child is never dropped") {
    val child =
      ScriptedPred(Array(java.lang.Boolean.TRUE, java.lang.Boolean.FALSE))
    val probe = AdaptiveProbe(child, sampleRows = 10, keepThreshold = 0.9)
    val out = evalN(probe, 100)
    assert(child.calls == 100, "a paying probe must keep evaluating")
    assert(out.count(_ == true) == 50 && out.count(_ == false) == 50)
  }

  test("null results keep drop semantics while sampling and count as drops") {
    val child = ScriptedPred(Array(null))
    val strict = AdaptiveProbe(child, sampleRows = 10, keepThreshold = 0.9)
    val out = evalN(strict, 100)
    assert(out.forall(_ == null), "pre-disable nulls must stay null (drop)")
    assert(child.calls == 100,
      "all-null keeps nothing — far below 0.9, must never disable")
  }

  test("partition smaller than the sample behaves byte-identically") {
    val child = ScriptedPred(Array(java.lang.Boolean.TRUE))
    val probe = AdaptiveProbe(child, sampleRows = 1000, keepThreshold = 0.0)
    evalN(probe, 999)
    assert(child.calls == 999, "no disable before the sample completes")
  }

  // --- end-to-end through the rule, whole-stage codegen path ---

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_adapt_").toFile
    d.deleteOnExit()
    import spark.implicits._
    spark.range(0, 40000)
      .selectExpr("id as k", "cast(id % 7 as long) as grp")
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/fact.parquet")
    // covers EVERY fact key → probe keep-rate 1.0, the drop case
    spark.range(0, 40000).selectExpr("id as dk", "'keep' as tag")
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/dimall.parquet")
    // covers three keys → selective, must not change results either way
    Seq((100L, "keep"), (200L, "keep"), (300L, "drop")).toDF("dk", "tag")
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/dimfew.parquet")
    Seq.tabulate(7)(i => (i.toLong, s"g$i")).toDF("gk", "gname")
      .write.mode("overwrite").parquet(s"${d.getAbsolutePath}/grp.parquet")
    d.getAbsolutePath
  }

  // two edges (the rule bails at minEdges <= 1)
  private def query(dim: String): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val fact = spark.read.parquet(s"$dir/fact.parquet")
    val d = spark.read.parquet(s"$dir/$dim.parquet").where("tag = 'keep'")
    val grp = spark.read.parquet(s"$dir/grp.parquet")
    fact.join(d, $"k" === $"dk").join(grp, $"grp" === $"gk")
      .groupBy($"gname").count()
  }

  private val adaptiveOn = Seq(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    RptConf.ENABLED -> "true",
    RptConf.FILTERED_BUILDS_ONLY -> "false",
    RptConf.ADAPTIVE_PROBE -> "true",
    RptConf.ADAPTIVE_PROBE_SAMPLE -> "64")

  for (dim <- Seq("dimall", "dimfew")) {
    test(s"end-to-end on $dim: rule-on+drop ≡ rule-off, probe wrapped") {
      val off = withConf(RptConf.ENABLED -> "false")(fingerprint(query(dim)))
      val (on, logical, executed, disables) = withConf(adaptiveOn: _*) {
        val df = query(dim)
        val before = AdaptiveProbe.disables
        // execute df ITSELF (fingerprint collects a derived frame, which
        // would leave df's own AQE plan unexecuted and stage-less)
        df.collect()
        val fp = fingerprint(df)
        // the wrap is PHYSICAL (WrapAdaptiveProbes): the logical plan must
        // stay byte-identical to the bare probe (a logical wrap measurably
        // regressed deep plans by duplicating build subqueries into scan
        // dataFilters); the executed plan carries the wrapper
        (fp, df.queryExecution.optimizedPlan.toString,
          df.queryExecution.executedPlan.toString,
          AdaptiveProbe.disables - before)
      }
      assert(off == on, s"$dim results diverged under adaptive drop")
      assert(!logical.contains("graft_adaptive_probe"),
        s"$dim probe wrapped in the LOGICAL plan — must be physical-only")
      assert(executed.contains("graft_adaptive_probe"),
        s"$dim executed plan does not carry the wrapper")
      if (dim == "dimall") {
        assert(disables > 0,
          "the all-keys build keeps 100% — partitions must latch off")
      }
    }
  }

  test("nested might_contain under NOT/OR stays bare; only conjunct-rooted " +
      "probes wrap") {
    import org.apache.spark.sql.catalyst.expressions.{And, BloomFilterMightContain, Literal, Not, Or}
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.types.BinaryType
    withConf(RptConf.ADAPTIVE_PROBE -> "true") {
      val scan = spark.range(1).queryExecution.sparkPlan
      def bf() = BloomFilterMightContain(Literal(null, BinaryType), Literal(1L))
      // one conjunct-rooted probe + one probe under NOT + one under OR:
      // latching a negated/disjoined probe to `true` would NARROW or widen
      // the filter unpredictably, so only the conjunct-rooted one may wrap
      val cond = And(And(bf(), Not(bf())), Or(bf(), Literal(false)))
      val out = WrapAdaptiveProbes()(FilterExec(cond, scan))
        .asInstanceOf[FilterExec].condition
      assert(out.collect { case a: AdaptiveProbe => a }.size == 1,
        s"exactly the conjunct-rooted probe must wrap, got: $out")
      assert(out.collect {
        case n: Not if n.child.isInstanceOf[BloomFilterMightContain] => n
      }.size == 1, "the NOT-guarded probe must stay bare")
      assert(out.collect {
        case o: Or if o.children.exists(_.isInstanceOf[BloomFilterMightContain]) => o
      }.size == 1, "the OR-guarded probe must stay bare")
      // a filter whose only probes are nested is left byte-identical
      val notOnly = Not(bf())
      val out2 = WrapAdaptiveProbes()(FilterExec(notOnly, scan))
        .asInstanceOf[FilterExec].condition
      assert(out2.fastEquals(notOnly), "NOT-only filter must be untouched")
    }
  }

  test("default ON (r14 fast-path codegen, tax measured 1.2-1.9% on the " +
      "q35 deep plan): wrapped by default, bare when disabled") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        RptConf.ENABLED -> "true", RptConf.FILTERED_BUILDS_ONLY -> "false") {
      val df = query("dimfew")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("graft_adaptive_probe"),
        "default must match the reference's unconditional wrap")
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        RptConf.ENABLED -> "true", RptConf.FILTERED_BUILDS_ONLY -> "false",
        RptConf.ADAPTIVE_PROBE -> "false") {
      val df = query("dimfew")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"))
      assert(!plan.contains("graft_adaptive_probe"))
    }
  }
}
