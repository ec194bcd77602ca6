package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

import graft.{GraftSession, SparkEntry}
import graft.queries._
import graft.rpt.{RptConf, RptProfiling}
import graft.tools.JobRealQueries

/**
 * The benchmark's JVM side. It runs the schedule `run.py` generated from
 * the seed and records what it measured; every statistic and every result
 * check is made by `run.py`.
 *
 *   Harness sql <out.json>               the SQL the workloads run, for DuckDB
 *   Harness run <plan.json> <out.json>   one benchmark run
 *
 * A run builds the session, registers the views and runs the untimed
 * warm-up (the set-up), then runs whole passes of the schedule until the
 * plan's seconds have elapsed, one query at a time. With `trace` set, every
 * execution records the spans query > analyze, optimize, execute, profile
 * and the counts taken at the same boundaries; spans stay in memory and are
 * written once, with the rest of the output, at the end.
 */
object Harness {

  private val om = new ObjectMapper()

  def families: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> RelationalQueries.defs, "text" -> TextQueries.defs,
    "dedup" -> DedupQueries.defs, "similarity" -> SimilarityQueries.defs,
    "multimodal" -> MultimodalQueries.defs, "pipeline" -> PipelineQueries.defs,
    "streaming" -> StreamingQueries.defs)

  def main(args: Array[String]): Unit = args.toList match {
    case List("sql", out) => dumpSql(out)
    case List("run", plan, out) => new Run(om.readTree(new File(plan))).apply(out)
    case _ =>
      System.err.println("usage: Harness sql <out.json> | run <plan.json> <out.json>")
      sys.exit(2)
  }

  private def dumpSql(out: String): Unit = {
    val oracle = SparkEntry.oracleSql
    val registry = SparkEntry.queries.keys.toSeq.sorted.map { n =>
      val family = families.collectFirst { case (f, ds) if ds.exists(_.name == n) => f }
      Map("name" -> n, "family" -> family.getOrElse("other"),
        "oracle" -> oracle.get(n).orNull).asJava
    }.asJava
    val job = JobRealQueries.all.map { case (n, s) => Map("name" -> n, "sql" -> s).asJava }.asJava
    om.writeValue(new File(out), Map("job" -> job, "registry" -> registry).asJava)
  }

  /** Wall time of `body` in milliseconds, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}

private final class Run(plan: JsonNode) {
  import Harness.timed

  private val mainNs = System.nanoTime()
  private val jvmUptimeMs = ManagementFactory.getRuntimeMXBean.getUptime
  private val trace = plan.path("trace").asBoolean(false)
  private val workload = plan.path("workload").asText()
  private val dataDir = plan.path("data").asText()
  private val registry = plan.path("kind").asText() == "registry"

  private val records = ArrayBuffer[java.util.Map[String, Any]]()
  private val spans = ArrayBuffer[java.util.Map[String, Any]]()
  @volatile private var currentTag = ""

  private def span(id: String, name: String, parent: String, t0: Long, t1: Long): Unit =
    if (trace) spans += Map[String, Any]("id" -> id, "name" -> name,
      "parent" -> parent, "start_ns" -> (t0 - mainNs), "end_ns" -> (t1 - mainNs)).asJava

  /** Runs `body` with every job it starts tagged `tag`. */
  private def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    currentTag = tag
    spark.sparkContext.setLocalProperty(Probes.Tag, tag)
    try body finally {
      spark.sparkContext.setLocalProperty(Probes.Tag, null)
      currentTag = ""
    }
  }

  def apply(out: String): Unit = {
    val (spark, sessionMs) = timed(GraftSession.build(appName = s"perfbench-$workload"))
    val probes = new Probes
    val streamProbe = new probes.StreamProbe(() => currentTag)
    if (trace) {
      spark.sparkContext.addSparkListener(probes)
      spark.streams.addListener(streamProbe)
    }
    Option(plan.get("confs")).foreach(_.properties().asScala.foreach { e =>
      spark.conf.set(e.getKey, e.getValue.asText())
    })
    val (_, viewsMs) = timed(registerViews(spark))
    val jobSql = JobRealQueries.all.toMap
    val registryFns = SparkEntry.queries

    def execute(q: String, on: Boolean, pass: Int): Unit = {
      val rule = if (on) "on" else "off"
      val id = s"$workload/$q/$rule/$pass"
      spark.conf.set(RptConf.ENABLED, on.toString)
      val rec = new java.util.HashMap[String, Any]()
      rec.put("q", q); rec.put("rule", rule); rec.put("pass", pass)
      val t0 = System.nanoTime()
      try {
        val (df, analyzeNs) = stamp(tagged(spark, s"$id/analyze") {
          if (registry) registryFns(q)(spark, dataDir) else spark.sql(jobSql(q))
        })
        val qe = df.queryExecution
        val (_, optimizeNs) = stamp(tagged(spark, s"$id/optimize")(qe.optimizedPlan))
        val (rows, executeNs) = stamp(tagged(spark, s"$id/execute")(df.collect()))
        val t1 = System.nanoTime()
        rec.put("ms", (t1 - t0) / 1e6)
        if (trace) {
          val (profile, profileNs) = stamp(profileOf(qe))
          profile.foreach { case (k, v) => rec.put(k, v) }
          val rules = qe.tracker.rules
          rec.put("rule_ms", rules.collect {
            case (n, s) if n.contains("PredicateTransferRule") => s.totalTimeNs / 1e6
          }.sum)
          qe.tracker.phases.get("optimization")
            .foreach(p => rec.put("optimize_ms", p.durationMs.toDouble))
          span(id, "query", "", t0, profileNs._2)
          Seq("analyze" -> analyzeNs, "optimize" -> optimizeNs,
            "execute" -> executeNs, "profile" -> profileNs).foreach {
            case (n, (a, b)) => span(id, n, "query", a, b)
          }
        }
        val c = Canon.of(df.columns.toSeq, rows)
        rec.put("cols", c.cols.asJava); rec.put("rows", c.rows); rec.put("digest", c.digest)
      } catch {
        case e: Exception =>
          rec.put("ms", (System.nanoTime() - t0) / 1e6)
          rec.put("err", s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      records += rec
    }

    def runPass(items: JsonNode, pass: Int): Unit =
      items.elements().asScala.foreach { it =>
        execute(it.get(0).asText(), it.get(1).asText() == "on", pass)
      }

    val (_, warmupMs) = timed(runPass(plan.get("warmup"), -1))
    val setupS = jvmUptimeMs / 1e3 + (System.nanoTime() - mainNs) / 1e9

    val seconds = plan.path("seconds").asDouble()
    val t0 = System.nanoTime()
    val passes = plan.get("passes").elements().asScala
    var done = 0
    while (passes.hasNext && (done == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      runPass(passes.next(), done)
      done += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9

    // full GCs with pauses between them, so that the context cleaner can
    // drop the shuffle and broadcast blocks the first collection freed
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val result = new java.util.HashMap[String, Any]()
    result.put("setup_s", setupS)
    result.put("setup", Map("jvm_s" -> jvmUptimeMs / 1e3, "session_s" -> sessionMs / 1e3,
      "views_s" -> viewsMs / 1e3, "warmup_s" -> warmupMs / 1e3).asJava)
    result.put("passes", done)
    result.put("timed_s", timedS)
    result.put("heap_retained_mb", heapMb)
    result.put("cores", spark.sparkContext.defaultParallelism)
    result.put("executions", records.asJava)
    if (trace) {
      awaitQuiet(probes)
      result.put("spans", spans.asJava)
      result.put("host", probes.hosts.asScala.map { case (t, h) =>
        t -> Map("jobs" -> h.jobs, "stages" -> h.stages, "scan_rows" -> h.scanRows,
          "shuffle_bytes" -> h.shuffleBytes, "spill_bytes" -> h.spillBytes,
          "task_ms" -> h.taskMs, "gc_ms" -> h.gcMs).asJava
      }.asJava)
      result.put("stream", streamProbe.streams.asScala.map { case (t, s) =>
        t -> Map("batches" -> s.batches, "planning_ms" -> s.planningMs,
          "add_batch_ms" -> s.addBatchMs, "commit_ms" -> s.commitMs).asJava
      }.asJava)
    }
    new ObjectMapper().writeValue(new File(out), result)
    spark.stop()
  }

  /** `body`'s result with its (start, end) nanoTime stamps. */
  private def stamp[T](body: => T): (T, (Long, Long)) = {
    val a = System.nanoTime()
    val r = body
    (r, (a, System.nanoTime()))
  }

  private def registerViews(spark: SparkSession): Unit =
    if (registry) QueryDef.views(spark, dataDir)
    else plan.get("tables").elements().asScala.map(_.asText()).foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
    }

  /** Counts the profile span records: probes and builds in the plans, and
    * the measured rows, times and bytes of each. */
  private def profileOf(qe: org.apache.spark.sql.execution.QueryExecution): Map[String, Any] = {
    val mightContain = qe.optimizedPlan.collectWithSubqueries { case p => p }
      .flatMap(_.expressions.flatMap(_.collect { case m: BloomFilterMightContain => m })).size
    val buildNames = qe.optimizedPlan.collectWithSubqueries { case p => p }
      .flatMap(_.schema.fieldNames.filter(_.startsWith("graft_rpt_bf"))).distinct.size
    val ps = RptProfiling.probeStats(qe)
    val bs = RptProfiling.buildStats(qe).filterNot(_.reused)
    Map("probes" -> mightContain, "builds" -> buildNames,
      "probe_rows_in" -> ps.map(_.rowsIn.max(0L)).sum,
      "probe_rows_out" -> ps.map(_.rowsOut.max(0L)).sum,
      "probe_useless" -> ps.count(s => s.rowsIn > 0 && s.selectivity >= 0.98),
      "probe_stage_ms" -> ps.map(_.stageMs.max(0L)).sum,
      "build_count" -> bs.size,
      "build_collect_ms" -> bs.map(_.collectMs.max(0L)).sum,
      "build_bytes" -> bs.map(_.dataBytes.max(0L)).sum)
  }

  /** Waits for the listener bus to deliver the run's last events. */
  private def awaitQuiet(p: Probes): Unit = {
    var last = -1L
    while (last != p.events) { last = p.events; Thread.sleep(300) }
  }
}
