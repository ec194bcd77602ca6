package graft.tools

import java.nio.file.{Files, Path, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.{GraftSession, SparkEntry}

/**
 * Dumps `.explain("formatted")` for every declared query (or an allowlist)
 * to one file per query — the before/after plan evidence for optimization
 * rounds. Building a query's frame is all that runs, but that is not
 * always planning alone: the streaming queries drain their streams into a
 * `graft_drain_*` temp directory while their frames are built, so run this
 * at a fixture scale you would execute.
 *
 * The text is normalized (see [[normalize]]) so two dumps of one commit
 * are byte-identical: a plain `diff -r` of two dump directories then shows
 * only real plan changes.
 *
 * `--job` writes the optimized plan, subqueries included, of each of the
 * 113 [[JobRealQueries]] in both [[JobReal.Regimes]], one file per query
 * and regime (`<query>_<regime>.txt`): the JOB plan-identity check.
 *
 * Usage: SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_BENCH_QUERIES=a,b]
 *          runMain graft.tools.PlanDump <outDir> [suffix]
 *        runMain graft.tools.PlanDump --job <imdbDir> <outDir>
 */
object PlanDump {
  def main(args: Array[String]): Unit = args match {
    case Array("--job", imdbDir, outDir) => dumpJob(imdbDir, Paths.get(outDir))
    case Array(outDir, suffix @ _*) if suffix.size <= 1 && outDir != "--job" =>
      dumpRegistry(Paths.get(outDir), suffix.map("_" + _).mkString)
    case _ => sys.error("args: <outDir> [suffix] | --job <imdbDir> <outDir>")
  }

  private def write(outDir: Path, file: String, text: String): Unit = {
    Files.write(outDir.resolve(file),
      text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // scalastyle:off println
    println(s"PLANDUMP ${outDir.resolve(file)}")
    // scalastyle:on println
  }

  private def dumpRegistry(outDir: Path, suffix: String): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    Files.createDirectories(outDir)
    val spark = GraftSession.build(appName = "graft-plan-dump")
    graft.queries.QueryDef.views(spark, sfDir)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        val text =
          try normalize(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
        write(outDir, s"$name$suffix.txt", text)
      }
    spark.stop()
  }

  private def dumpJob(imdbDir: String, outDir: Path): Unit = {
    Files.createDirectories(outDir)
    val spark = GraftSession.build(appName = "graft-plan-dump-job")
    JobReal.views(spark, imdbDir)
    spark.conf.set(graft.rpt.RptConf.ENABLED, "true")
    for ((regime, threshold) <- JobReal.Regimes) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      JobRealQueries.all.foreach { case (name, sql) =>
        val text =
          try normalize(withSubqueries(spark.sql(sql).queryExecution
            .optimizedPlan).zipWithIndex.map {
              case (p, 0) => p.treeString
              case (p, i) => s"== Subquery $i ==\n${p.treeString}"
            }.mkString("\n"))
          catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
        write(outDir, s"${name}_$regime.txt", text)
      }
    }
    spark.stop()
  }

  /** `p` followed by every subquery plan under it, depth first. */
  private def withSubqueries(p: LogicalPlan): Seq[LogicalPlan] =
    p +: p.flatMap(_.subqueries).flatMap(withSubqueries)

  // per-JVM counters: renumbered in order of first appearance, so equal
  // plans print equal numbers and a changed reference still shows
  private val ExprId = """#(\d+)""".r
  private val PlanId = """plan_id=(\d+)""".r
  // per-JVM identities: masked outright
  private val Lambda = """\$\$Lambda[$/\w.]*""".r
  private val IdentityHash = """@[0-9a-f]+\b""".r
  private val DrainDir = """graft_drain_\d+""".r

  /** The plan text with everything that changes from one JVM to the next
    * made stable: `#<n>` expression ids and `plan_id`s are renumbered in
    * order of first appearance, object and lambda identity hashes are
    * masked, and streaming drain directories lose their random suffix. */
  def normalize(text: String): String = {
    def renumber(re: Regex, prefix: String)(s: String): String = {
      val seen = collection.mutable.HashMap[String, Int]()
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        prefix + seen.getOrElseUpdate(m.group(1), seen.size + 1)))
    }
    val masked = DrainDir.replaceAllIn(
      IdentityHash.replaceAllIn(
        Lambda.replaceAllIn(text, Regex.quoteReplacement("$$Lambda")), "@_"),
      "graft_drain_*")
    renumber(PlanId, "plan_id=")(renumber(ExprId, "#")(masked))
  }
}
