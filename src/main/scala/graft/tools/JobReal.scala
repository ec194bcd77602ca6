package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/**
 * Runs the reconstructed 113-query JOB workload ([[JobRealQueries]]) on
 * the synthetic IMDB fixtures ([[ImdbFixtures]]) rule-on vs rule-off:
 * the real-text counterpart of [[graft.rpt.JobTopologies]] (which pins
 * the 33 join SHAPES on TPC-H-ish fixtures) — same predicates, same
 * 21-table schema, same MIN-aggregate outputs as the workload the
 * reference validates with (test_job_queries.sh).
 *
 * Per query and regime: rule-off result + wall, rule-on result + wall
 * (min of SPARK_GRAFT_BENCH_RUNS runs, warmup untimed), results REQUIRED
 * identical. One JSON line at the end (JOBREAL_JSON ...) with per-query
 * times and the differential geomean. Each rule-on result execution also
 * records how its bloom builds resolved ([[graft.rpt.ResolveBroadcastBuilds]]):
 * probes dropped because a broadcast hash join enforces them, builds read
 * from a broadcast, and aggregate builds — per query and summed per regime
 * (the build census).
 *
 * Usage: SPARK_GRAFT_SF_DIR=<imdbDir> runMain graft.tools.JobReal
 *   SPARK_GRAFT_RPT_REGIMES=shuffle,broadcast  (default both)
 *   SPARK_GRAFT_BENCH_QUERIES=1a,17f           (default all 113)
 *   SPARK_GRAFT_BENCH_RUNS=N                   (default 1)
 */
object JobReal {

  private val tables = Seq("title", "movie_companies", "movie_info",
    "movie_info_idx", "movie_keyword", "cast_info", "complete_cast",
    "comp_cast_type", "company_name", "company_type", "info_type",
    "keyword", "kind_type", "link_type", "movie_link", "name", "aka_name",
    "aka_title", "person_info", "char_name", "role_type")

  /** The two join regimes: `autoBroadcastJoinThreshold` per regime name. */
  private[tools] val Regimes =
    Seq("broadcast" -> "10485760", "shuffle" -> "-1")

  /** Registers the IMDB tables under `dir` as temp views. */
  private[tools] def views(spark: SparkSession, dir: String): Unit =
    tables.foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("pass <imdbDir> or set SPARK_GRAFT_SF_DIR"))
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    val regimes: Set[String] = sys.env.get("SPARK_GRAFT_RPT_REGIMES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

    val spark = GraftSession.build(appName = "graft-job-real")
    spark.sparkContext.setLogLevel("WARN")
    views(spark, dir)

    val queries = JobRealQueries.all
      .filter { case (n, _) => only.isEmpty || only(n) }
    require(queries.nonEmpty, s"query filter matched nothing: $only")

    // a MIN-aggregate query returns exactly one row; stringify with fixed
    // formatting so NULLs and numerics compare cleanly
    def result(df: org.apache.spark.sql.DataFrame): String = {
      val row = df.collect()(0)
      (0 until row.length).map { i =>
        if (row.isNullAt(i)) "NULL" else String.valueOf(row.get(i))
      }.mkString("|")
    }

    /** (dropped probes, broadcast builds, aggregate builds) of an executed
      * rule-on frame. */
    def outcomes(df: org.apache.spark.sql.DataFrame): (Int, Int, Int) = {
      val qe = df.queryExecution
      val bs = graft.rpt.RptProfiling.buildStats(qe).filterNot(_.reused)
      val bc = bs.count(_.source == graft.rpt.RptProfiling.BuildStat.Broadcast)
      (graft.rpt.ResolveBroadcastBuilds.droppedProbes(qe.executedPlan),
        bc, bs.size - bc)
    }

    def time(sql: String): Double = {
      val t0 = System.nanoTime()
      spark.sql(sql).collect()
      (System.nanoTime() - t0) / 1e9
    }

    def cls(s: Double): String =
      if (s > 1.05) "faster" else if (s < 0.95) "slower" else "same"

    val regimePlan = Regimes
      .filter { case (r, _) => regimes.isEmpty || regimes(r) }
    require(regimePlan.nonEmpty, s"regime filter matched nothing: $regimes")

    val mismatches = scala.collection.mutable.ArrayBuffer[String]()
    val regimeJsons = regimePlan.map { case (regime, bc) =>
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bc)
      val rows = queries.map { case (name, sql) =>
        spark.conf.set("spark.graft.rpt.enabled", "false")
        time(sql) // warmup, untimed
        val offRes = result(spark.sql(sql))
        spark.conf.set("spark.graft.rpt.enabled", "true")
        val onDf = spark.sql(sql)
        val onRes = result(onDf)
        val census = outcomes(onDf)
        if (onRes != offRes) {
          mismatches += s"$regime/$name: on=$onRes off=$offRes"
        }
        val (offs, ons) = (1 to runs).map { _ =>
          spark.conf.set("spark.graft.rpt.enabled", "false")
          val off = time(sql)
          spark.conf.set("spark.graft.rpt.enabled", "true")
          val on = time(sql)
          (off, on)
        }.unzip
        (name, offs.min, ons.min, offs.min / ons.min, offRes == onRes, census)
      }
      val geo = math.exp(rows.map(r => math.log(r._4)).sum / rows.size)
      val (dropped, reused, aggregate) = rows.map(_._6).foldLeft((0, 0, 0)) {
        case ((a, b, c), (x, y, z)) => (a + x, b + y, c + z)
      }
      // scalastyle:off println
      println(s"== regime: $regime (autoBroadcastJoinThreshold=$bc)")
      rows.foreach { case (name, off, on, s, eq, (d, r, a)) =>
        println(f"  $name%-4s off=$off%7.3fs on=$on%7.3fs " +
          f"speedup=$s%5.2fx ${cls(s)}%-6s match=$eq " +
          s"builds: dropped=$d reused=$r aggregate=$a")
      }
      println(s"  build census: $dropped dropped, $reused reused, " +
        s"$aggregate aggregate in ${rows.count(_._6 != ((0, 0, 0)))} " +
        s"queries that plan builds")
      println(f"  geomean speedup: $geo%.3fx (" +
        s"${rows.count(r => cls(r._4) == "faster")} faster / " +
        s"${rows.count(r => cls(r._4) == "slower")} slower / " +
        s"${rows.count(r => cls(r._4) == "same")} same), " +
        s"matches ${rows.count(_._5)}/${rows.size}")
      // scalastyle:on println
      val qJson = rows.map { case (n, off, on, s, eq, (d, r, a)) =>
        f""""$n":{"off":$off%.3f,"on":$on%.3f,"speedup":$s%.3f,"match":$eq,"dropped":$d,"reused":$r,"aggregate":$a}"""
      }.mkString(",")
      f""""$regime":{"geomean":$geo%.3f,"matches":${rows.count(_._5)},"total":${rows.size},"census":{"dropped":$dropped,"reused":$reused,"aggregate":$aggregate},"queries":{$qJson}}"""
    }

    // scalastyle:off println
    println(s"""JOBREAL_JSON {"dir":"$dir","runs":$runs,${regimeJsons.mkString(",")}}""")
    // scalastyle:on println
    require(mismatches.isEmpty,
      s"${mismatches.size} differential mismatches:\n${mismatches.take(5).mkString("\n")}")
    spark.stop()
  }
}
