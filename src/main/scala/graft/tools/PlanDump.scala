package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

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
 * Usage: SPARK_GRAFT_SF_DIR=<dir> [SPARK_GRAFT_BENCH_QUERIES=a,b]
 *          runMain graft.tools.PlanDump <outDir> [suffix]
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "args: <outDir> [suffix]")
    val outDir = Paths.get(args(0))
    val suffix = if (args.length > 1) "_" + args(1) else ""
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
        Files.write(outDir.resolve(s"$name$suffix.txt"),
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // scalastyle:off println
        println(s"PLANDUMP $name -> ${outDir.resolve(s"$name$suffix.txt")}")
        // scalastyle:on println
      }
    spark.stop()
  }

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
