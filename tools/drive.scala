// End-to-end drive at the library package boundary (the /verify recipe),
// SESSION 1 of 2: fixture views, operators through the public registry, and
// the RPT rule-on/off differential with probe counts. Session 2 is
// tools/drive2.scala (banked-filter differentials) — split because the
// REPL's resident compiler deterministically crashes past ~700 accumulated
// statements in one session. Run BOTH; each must print ALL CHECKS PASSED:
//   sbt -batch package
//   /opt/spark/bin/spark-shell --master 'local[8]' \
//     --jars target/scala-2.13/duckdbrobustpredicatetransferspark_2.13-0.1.0.jar \
//     --conf spark.sql.extensions=graft.rpt.RptExtensions \
//     --conf spark.sql.shuffle.partitions=8 \
//     --conf spark.sql.optimizer.runtime.bloomFilter.enabled=false \
//     --conf spark.ui.enabled=false \
//     -I tools/drive.scala 2>/dev/null | grep '\[drive\]'
import org.apache.spark.sql.functions._

// -I continues past a thrown statement, so asserts cannot gate the final
// verdict. check() records failures without throwing; the final line also
// requires that every check STATEMENT actually ran (a statement that dies
// on an unresolved val from an earlier failure never reaches check()).
var driveFailures = 0
var driveChecksRun = 0
def check(cond: Boolean, msg: String): Unit = { driveChecksRun += 1; if (!cond) { driveFailures += 1; println(s"[drive] CHECK FAILED: $msg") } }

val sf = "/root/testdata/sf0.01"
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
// round 15: the total-work floor stands the rule down on byte-tiny
// fixtures BY DESIGN (that is its shipping behavior) — hold it open so
// the probe-mechanism checks below still see transfers; its own
// stand-down differential is checked at the end of this drive
spark.conf.set("spark.graft.rpt.waveCostBytes", "0")
for (t <- Seq("region","nation","customer","supplier","part","orders","lineitem","events","documents","embeddings"))
  spark.read.parquet(s"$sf/$t.parquet").createOrReplaceTempView(t)

// --- new operators through the public registry ---
val d08 = graft.SparkEntry.queries("d08_dup_clusters")(spark, sf)
val d08rows = d08.collect()
println(s"[drive] d08_dup_clusters rows=${d08rows.length} distinctReps=${d08rows.map(_.getLong(1)).distinct.length}")
check(d08rows.nonEmpty, "d08 empty")

val p04 = graft.SparkEntry.queries("p04_leakage_split")(spark, sf)
val p04rows = p04.collect()
p04rows.foreach(r => println(s"[drive] p04 ${r.getString(0)} n_docs=${r.getLong(1)} n_groups=${r.getLong(2)} n_clustered=${r.getLong(3)}"))
val total = p04rows.map(_.getLong(1)).sum
val docs = spark.table("documents").count()
check(total == docs, s"p04 covers $total of $docs docs")


// --- d09 through the public registry ---
val d09 = graft.SparkEntry.queries("d09_editdist_neardup")(spark, sf)
val d09rows = d09.collect()
println(s"[drive] d09_editdist_neardup rows=${d09rows.length}")
check(d09rows.nonEmpty, "d09 empty")
check(d09rows.forall(_.getLong(2) >= 0), "d09 negative distance")

val d11rows = graft.SparkEntry.queries("d11_source_contamination")(spark, sf).collect()
println(s"[drive] d11_source_contamination rows=${d11rows.length} pairs=${d11rows.map(_.getLong(2)).sum}")
check(d11rows.nonEmpty && d11rows.forall(r => r.getString(0) <= r.getString(1) && r.getLong(3) <= r.getLong(2)), "d11 canonical ordering / cross<=total violated")

val t08rows = graft.SparkEntry.queries("t08_vocab_divergence")(spark, sf).collect()
println(s"[drive] t08_vocab_divergence rows=${t08rows.length}")
check(t08rows.nonEmpty && t08rows.forall(r => r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0000001), "t08 cosine out of (0,1]")

// --- round 9: streaming gate through the public registry (drain() caps
// the stateful shuffle during the run and must RESTORE the session conf)
val partsBefore = spark.conf.get("spark.sql.shuffle.partitions")
val v01rows = graft.SparkEntry.queries("v01_stream_simhash")(spark, sf).collect()
println(s"[drive] v01_stream_simhash rows=${v01rows.length} partitionsRestored=${spark.conf.get("spark.sql.shuffle.partitions") == partsBefore}")
check(v01rows.length == 500, s"v01 expected 500 rows, got ${v01rows.length}")
check(spark.conf.get("spark.sql.shuffle.partitions") == partsBefore, "drain leaked the shuffle-partition override")

// --- RPT differential at the extensions boundary ---
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
spark.conf.set("spark.graft.rpt.minProbeRows", "0")
val q = """SELECT n.n_name, count(*) AS cnt
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           JOIN nation n ON c.c_nationkey = n.n_nationkey
           WHERE n.n_name = 'NATION_3' GROUP BY n.n_name"""
spark.conf.set("spark.graft.rpt.enabled", "true")
val on = spark.sql(q)
val onPlan = on.queryExecution.optimizedPlan.toString
val onProbes = "might_contain".r.findAllIn(onPlan).length
val onRes = on.collect().map(_.toString).sorted.toSeq
spark.conf.set("spark.graft.rpt.enabled", "false")
val off = spark.sql(q)
val offProbes = "might_contain".r.findAllIn(off.queryExecution.optimizedPlan.toString).length
val offRes = off.collect().map(_.toString).sorted.toSeq
println(s"[drive] probes on=$onProbes off=$offProbes resultsEqual=${onRes == offRes}")
check(onProbes > 0, "rule on: expected might_contain probes")
check(offProbes == 0, "rule off: expected no probes")
check(onRes == offRes, "rule changed results")
spark.conf.set("spark.graft.rpt.enabled", "true")

// single-join stays untouched
val one = spark.sql("SELECT count(*) FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey")
check("might_contain".r.findAllIn(one.queryExecution.optimizedPlan.toString).isEmpty, "1-edge query must be untouched")

// --- round 8: q35 JOB-depth 14-table join, rule-on/off differential ---
spark.conf.set("spark.graft.rpt.enabled", "true")
val q35on = graft.SparkEntry.queries("q35_job_depth")(spark, sf)
val q35onProbes = "might_contain".r.findAllIn(q35on.queryExecution.optimizedPlan.toString).length
val q35onRes = q35on.collect().map(_.toString).sorted.toSeq
spark.conf.set("spark.graft.rpt.enabled", "false")
val q35off = graft.SparkEntry.queries("q35_job_depth")(spark, sf)
val q35offRes = q35off.collect().map(_.toString).sorted.toSeq
spark.conf.set("spark.graft.rpt.enabled", "true")
println(s"[drive] q35 probes on=$q35onProbes resultsEqual=${q35onRes == q35offRes} row=${q35onRes.headOption}")
check(q35onProbes > 0, "q35: expected probes at JOB depth")
check(q35onRes == q35offRes, "q35: rule changed results")
check(q35onRes.head.contains("5,"), s"q35: unexpected result ${q35onRes.head}")

// --- round 8: q36 17-table width envelope, rule-on/off differential ---
// NB: keep every statement on ONE line — in spark-shell -I, a leading-dot
// continuation line applies to the previous REPL result, silently binding
// the val to the wrong value
val q36on = graft.SparkEntry.queries("q36_job_width")(spark, sf)
val q36onRes = q36on.collect().map(_.toString).sorted.toSeq
spark.conf.set("spark.graft.rpt.enabled", "false")
val q36offDf = graft.SparkEntry.queries("q36_job_width")(spark, sf)
val q36offRes = q36offDf.collect().map(_.toString).sorted.toSeq
spark.conf.set("spark.graft.rpt.enabled", "true")
println(s"[drive] q36 resultsEqual=${q36onRes == q36offRes} row=${q36onRes.headOption}")
check(q36onRes == q36offRes, "q36: rule changed results")
check(q36onRes.head.startsWith("[30,"), s"q36: unexpected ${q36onRes.head}")

// --- round 8: s02 is a sampled audit now (20 probe vectors x corpus) ---
val s02 = graft.SparkEntry.queries("s02_cosine_neardup")(spark, sf)
println(s"[drive] s02 sampled-audit rows=${s02.count()}")

// --- round 8: d10 survivor election through the shared closure ---
val d10 = graft.SparkEntry.queries("d10_cluster_survivors")(spark, sf)
val d10rows = d10.collect()
println(s"[drive] d10_cluster_survivors rows=${d10rows.length}")
check(d10rows.nonEmpty, "d10 empty")
check(!spark.catalog.tableExists("graft_d10_labels"), "d10 must not leak a temp view")

// --- round 8: graft-parquet v2 source + in-scan runtime transfer ---
// service-loader registration ("graft-parquet" short name) must resolve
// from the packaged jar; with broadcast off the rule splices the
// DynamicPruningSubquery and the build keys must reach the scan's filter()
val v2calls0 = org.apache.spark.sql.graft.sources.GraftParquetScan.filterCalls.get
val v2fact = spark.read.format("graft-parquet").load(s"$sf/lineitem.parquet")
val v2dim = spark.read.parquet(s"$sf/orders.parquet").where("o_totalprice < 20000")
val v2cust = spark.read.parquet(s"$sf/customer.parquet")
val v2q = v2fact.join(v2dim, v2fact("l_orderkey") === v2dim("o_orderkey")).join(v2cust, v2dim("o_custkey") === v2cust("c_custkey")).groupBy().count()
val v2onRes = v2q.collect().head.getLong(0)
val v2called = org.apache.spark.sql.graft.sources.GraftParquetScan.filterCalls.get > v2calls0
spark.conf.set("spark.graft.rpt.enabled", "false")
val v2q2 = v2fact.join(v2dim, v2fact("l_orderkey") === v2dim("o_orderkey")).join(v2cust, v2dim("o_custkey") === v2cust("c_custkey")).groupBy().count()
val v2offRes = v2q2.collect().head.getLong(0)
spark.conf.set("spark.graft.rpt.enabled", "true")
println(s"[drive] v2source rows=$v2onRes filterCalled=$v2called resultsEqual=${v2onRes == v2offRes}")
check(v2onRes == v2offRes, "v2 source: in-scan transfer changed results")
check(v2called, "v2 source: runtime keys never reached the scan's filter()")

// --- round 8: footer-stats keep-fraction gate (default path) ---
// the weak range build (s_acctbal > 0 keeps ~92% of suppliers) stands
// down from parquet footer min/max alone — no CBO stats, no count jobs;
// the same range over an expression of the column (s_acctbal + 0 > 0),
// which the footer estimate cannot price, keeps the supplier build (more
// probes), results identical either way
val fgq = "SELECT count(*) AS n FROM lineitem JOIN supplier ON l_suppkey = s_suppkey JOIN orders ON l_orderkey = o_orderkey WHERE s_acctbal > 0 AND o_totalprice < 20000"
val fgqUnpriced = fgq.replace("s_acctbal > 0", "s_acctbal + 0 > 0")
val fgOnProbes = "might_contain".r.findAllIn(spark.sql(fgq).queryExecution.optimizedPlan.toString).length
val fgOnRes = spark.sql(fgq).collect().map(_.toString).sorted.toSeq
val fgOffProbes = "might_contain".r.findAllIn(spark.sql(fgqUnpriced).queryExecution.optimizedPlan.toString).length
val fgOffRes = spark.sql(fgqUnpriced).collect().map(_.toString).sorted.toSeq
println(s"[drive] footerGate probes priced=$fgOnProbes unpriced=$fgOffProbes resultsEqual=${fgOnRes == fgOffRes}")
check(fgOnProbes > 0, "footer gate: selective orders build lost its probe")
check(fgOffProbes > fgOnProbes, "footer gate: weak supplier build not gated (or the unpriced range was gated too)")
check(fgOnRes == fgOffRes, "footer gate changed results")

// --- key-clustered 4-file fact read through graft-parquet, a filtered
// dim and a group dim: the fixture of the over-cap in-scan check below ---
val rsDir = java.nio.file.Files.createTempDirectory("drive_rs_").toFile
spark.range(0, 40000).selectExpr("id as k", "id % 97 as grp").repartitionByRange(4, org.apache.spark.sql.functions.col("k")).sortWithinPartitions("k").write.mode("overwrite").parquet(s"${rsDir.getAbsolutePath}/fact.parquet")
Seq((100L, "keep"), (200L, "keep"), (30000L, "drop")).toDF("dk", "tag").write.mode("overwrite").parquet(s"${rsDir.getAbsolutePath}/dim.parquet")
Seq((3L, "g3"), (6L, "g6")).toDF("gk", "gname").write.mode("overwrite").parquet(s"${rsDir.getAbsolutePath}/grp.parquet")
def rsRun(): Seq[String] = { val fact = spark.read.format("graft-parquet").load(s"${rsDir.getAbsolutePath}/fact.parquet"); val dim = spark.read.parquet(s"${rsDir.getAbsolutePath}/dim.parquet").where("tag = 'keep'"); val grp = spark.read.parquet(s"${rsDir.getAbsolutePath}/grp.parquet"); fact.join(dim, fact("k") === dim("dk")).join(grp, fact("grp") === grp("gk")).groupBy("tag").count().collect().map(_.toString).sorted.toSeq }

// --- round 11: sessionizeLite and sessionizeNative must be bit-identical to
// sessionize on the fixture, driven at the library boundary. Part files are
// mtime-stamped in range order (FileStreamSource feeds files in mtime order;
// unordered arrival late-drops rows at form-specific cutoffs) and each drain
// appends a far-future sentinel so every session closes and the comparison
// is over COMPLETE, deterministic sets (previously the emitted suffix
// depended on drain timing - the same fix as the suite identity test).
import graft.streaming.{Event, Session, StreamingOps}
val evSrcDir = java.nio.file.Files.createTempDirectory("drive_sess_").toString
graft.GraftSession.normalizeTs(spark.read.parquet(s"$sf/events.parquet")).select("event_id", "ts", "user_id", "event_type", "value").repartitionByRange(3, org.apache.spark.sql.functions.col("ts")).write.mode("overwrite").parquet(evSrcDir)
new java.io.File(evSrcDir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).zipWithIndex.foreach { case (f, i) => f.setLastModified(1600000000000L + i * 60000L) }
val sessMaxTs = spark.read.parquet(evSrcDir).agg(org.apache.spark.sql.functions.max("ts")).head.getTimestamp(0)
def sessDrain(form: String, sink: String): Set[String] = { val src = spark.readStream.schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE").option("maxFilesPerTrigger", "1").parquet(evSrcDir).as[Event]; val ds = form match { case "lite" => StreamingOps.sessionizeLite(src); case "native" => StreamingOps.sessionizeNative(src); case _ => StreamingOps.sessionize(src) }; val q = ds.writeStream.format("memory").queryName(sink).outputMode("append").start(); q.processAllAvailable(); Seq((-1L, new java.sql.Timestamp(sessMaxTs.getTime + 360000000L), -1L, "sentinel", 0.0)).toDF("event_id", "ts", "user_id", "event_type", "value").write.mode("append").parquet(evSrcDir); q.processAllAvailable(); q.stop(); val out = spark.table(sink).as[Session].collect().filter(_.user_id >= 0).map(_.toString).toSet; spark.catalog.dropTempView(sink); out }
val sessStd = sessDrain("std", "drive_sess_std")
val sessLite = sessDrain("lite", "drive_sess_lite")
val sessNative = sessDrain("native", "drive_sess_native")
println(s"[drive] sessionize forms sessions=${sessStd.size} lite==std=${sessStd == sessLite} native==std=${sessStd == sessNative}")
check(sessStd.nonEmpty, "sessionize drained no sessions")
check(sessStd == sessLite, "sessionizeLite diverged from sessionize")
check(sessStd == sessNative, "sessionizeNative diverged from sessionize")

// --- round 12: quantized over-cap in-scan transfer (default-on) ---
// the clustered fixture, cap -1 forces every build over the cap: the rule
// must deliver RUNTIME grid anchors through the DPS channel (scan's filter() called, files pruned) with results equal
// to rule-off — the uncapped, staleness-free over-cap path
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
spark.conf.set("spark.graft.rpt.minProbeRows", "0")
spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", "-1")
org.apache.spark.sql.graft.sources.GraftParquetScan.lastFilePruneGlobal = None
val qcalls0 = org.apache.spark.sql.graft.sources.GraftParquetScan.filterCalls.get
val qOn = rsRun()
val qPrune = org.apache.spark.sql.graft.sources.GraftParquetScan.lastFilePruneGlobal
val qCalled = org.apache.spark.sql.graft.sources.GraftParquetScan.filterCalls.get > qcalls0
spark.conf.set("spark.graft.rpt.enabled", "false")
val qOff = rsRun()
spark.conf.set("spark.graft.rpt.enabled", "true")
spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", "1048576")
spark.conf.set("spark.graft.rpt.minProbeRows", "65536")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
println(s"[drive] quantOverCap rows=${qOn.size} prune=$qPrune filterCalled=$qCalled resultsEqual=${qOn == qOff}")
check(qOn == qOff, "quantized over-cap changed results")
check(qCalled, "quantized over-cap: runtime anchors never reached filter()")
check(qPrune.exists { case (b, a) => a < b }, "quantized over-cap never pruned a file")

// --- round 13: over-cap ENVELOPE transfer for string keys (default-on) ---
// string-keyed clustered fact (4 files, disjoint zero-padded key ranges) +
// tiny filtered dim; cap -1 forces over-cap and the key is VARCHAR, so the
// rule must deliver the build's runtime MIN/MAX through the DPS channel
// with the probe relation range-marked: scan filter() called, files pruned
// by the envelope, results equal to rule-off
val envDir = java.nio.file.Files.createTempDirectory("drive_env_").toString
spark.range(0, 40000).selectExpr("format_string('sk%05d', id) as sk", "id % 7 as grp").repartitionByRange(4, org.apache.spark.sql.functions.col("sk")).sortWithinPartitions("sk").write.mode("overwrite").parquet(s"$envDir/fact.parquet")
spark.range(20000, 21000).selectExpr("format_string('sk%05d', id) as dk", "case when id % 2 = 0 then 'keep' else 'drop' end as tag").coalesce(1).write.mode("overwrite").parquet(s"$envDir/dim.parquet")
def envRun(): Set[String] = { val fact = spark.read.format("graft-parquet").load(s"$envDir/fact.parquet"); val dim = spark.read.parquet(s"$envDir/dim.parquet").where("tag = 'keep'"); val grp2 = spark.read.parquet(s"$envDir/dim.parquet").groupBy("dk").count().withColumnRenamed("dk", "gk"); fact.join(dim, fact("sk") === dim("dk")).join(grp2, dim("dk") === grp2("gk")).groupBy("tag").agg(org.apache.spark.sql.functions.sum("grp").as("s")).collect().map(_.toString).toSet }
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
spark.conf.set("spark.graft.rpt.minProbeRows", "0")
spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", "-1")
org.apache.spark.sql.graft.sources.GraftParquetScan.lastFilePruneGlobal = None
val ecalls0 = org.apache.spark.sql.graft.sources.GraftParquetScan.filterCalls.get
val eOn = envRun()
val ePrune = org.apache.spark.sql.graft.sources.GraftParquetScan.lastFilePruneGlobal
val eCalled = org.apache.spark.sql.graft.sources.GraftParquetScan.filterCalls.get > ecalls0
spark.conf.set("spark.graft.rpt.enabled", "false")
val eOff = envRun()
spark.conf.set("spark.graft.rpt.enabled", "true")
spark.conf.set("spark.graft.rpt.v2ScanFilterMaxBuildRows", "1048576")
spark.conf.set("spark.graft.rpt.minProbeRows", "65536")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
println(s"[drive] envelopeOverCap rows=${eOn.size} prune=$ePrune filterCalled=$eCalled resultsEqual=${eOn == eOff}")
check(eOn == eOff, "envelope over-cap changed results")
check(eCalled, "envelope over-cap: runtime min/max never reached filter()")
check(ePrune.exists { case (b, a) => a < b }, "envelope over-cap never pruned a file")

// --- HonestCheckpoint (round 13): localCheckpoint with MEASURED stats.
// The pre-checkpoint estimate of an exploded df is wildly off (estimator
// can't see the explode factor); the honest checkpoint must carry the
// block-manager size instead, and the data must round-trip unchanged.
val hcIn = spark.range(0, 2000).selectExpr("id", "explode(sequence(0, 99)) as j").selectExpr("id", "j", "repeat('x', 100) as pad")
val hcEstimate = hcIn.queryExecution.optimizedPlan.stats.sizeInBytes
val hcCp = org.apache.spark.sql.graft.HonestCheckpoint.localCheckpoint(hcIn)
val hcStats = hcCp.queryExecution.analyzed.stats.sizeInBytes
println(s"[drive] honestCheckpoint estimate=$hcEstimate measured=$hcStats")
check(hcStats > BigInt(0) && hcStats != hcEstimate, s"honest checkpoint kept the inherited estimate ($hcEstimate)")
check(hcCp.count() == 200000L, "honest checkpoint changed row count")
check(hcCp.selectExpr("sum(j)").collect().head.getLong(0) == 2000L * 4950L, "honest checkpoint changed data")

// --- probe-relative big-build cap (round 13): a build past the absolute
// maxBuildRows is admitted when the probe dwarfs it, its filter sized past
// maxBloomFilterItems — and in a STOCK session (no GraftSession raising
// Spark's runtime.bloomFilter require caps) the size must clamp under the
// stock 4M-item cap instead of failing analysis.
spark.conf.set("spark.graft.rpt.enabled", "true")
spark.conf.set("spark.graft.rpt.minProbeRows", "0")
spark.conf.set("spark.graft.rpt.minEdges", "1")
spark.conf.set("spark.graft.rpt.maxBuildRows", "1000")
spark.conf.set("spark.graft.rpt.maxBloomFilterItems", "4096")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
// the date range is written over year(), which the footer keep estimate
// cannot price: a priced range would scale the size back under the floor
val rcSql = "SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey WHERE year(o_orderdate) < 1999"
spark.conf.set("spark.graft.rpt.bigBuildProbeFraction", "0")
val rcGatedProbes = "might_contain".r.findAllIn(spark.sql(rcSql).queryExecution.optimizedPlan.toString).length
spark.conf.set("spark.graft.rpt.bigBuildProbeFraction", "0.5")
val rcPlan = spark.sql(rcSql).queryExecution.optimizedPlan.toString
val rcProbes = "might_contain".r.findAllIn(rcPlan).length
val rcEst = "bloom_filter_agg\\(\\w+\\([^)]*\\), (\\d+)".r.findAllMatchIn(rcPlan).map(_.group(1).toLong).toSeq
val rcRows = spark.sql(rcSql).collect().head.getLong(0)
spark.conf.set("spark.graft.rpt.enabled", "false")
val rcRowsOff = spark.sql(rcSql).collect().head.getLong(0)
spark.conf.set("spark.graft.rpt.enabled", "true")
println(s"[drive] bigBuild gatedProbes=$rcGatedProbes relProbes=$rcProbes est=$rcEst rows=$rcRows/$rcRowsOff")
check(rcGatedProbes == 0, "over-absolute build transferred with relative path off")
check(rcProbes > 0, "probe-relative path did not admit the build")
check(rcEst.exists(e => e > 4096L && e <= 4000000L), s"big-build filter not sized past maxBfItems within the stock require cap ($rcEst)")
check(rcRows == rcRowsOff, "probe-relative transfer changed results")
spark.conf.set("spark.graft.rpt.bigBuildProbeFraction", "0.125")
spark.conf.set("spark.graft.rpt.maxBuildRows", "8000000")
spark.conf.set("spark.graft.rpt.maxBloomFilterItems", "4000000")
spark.conf.set("spark.graft.rpt.minProbeRows", "65536")

// --- within-query adaptive probe drop (round 13): every spliced
// might_contain ships wrapped in graft_adaptive_probe by default (the
// reference's SelectivityOptionalFilter analog); a partition that measures
// the probe unselective latches it off mid-query without changing results.
spark.conf.set("spark.graft.rpt.enabled", "true")
spark.conf.set("spark.graft.rpt.minProbeRows", "0")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
val adSql = "SELECT count(*) AS n, sum(l_extendedprice) AS s FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE o_orderpriority LIKE '%-%'"
// default ON since r14 (fast-path codegen, deep-plan tax 1.2-1.9%): the
// executed plan wraps by default; disabling the flag restores bare probes
val adDfDefault = spark.sql(adSql)
adDfDefault.collect()
val adPlanDefault = adDfDefault.queryExecution.executedPlan.toString
check(adPlanDefault.contains("graft_adaptive_probe"), "adaptive drop must be default-on (reference's unconditional wrap)")
spark.conf.set("spark.graft.rpt.adaptiveProbeDrop", "false")
val adDfBare = spark.sql(adSql)
adDfBare.collect()
check(adDfBare.queryExecution.executedPlan.toString.contains("might_contain") && !adDfBare.queryExecution.executedPlan.toString.contains("graft_adaptive_probe"), "disabled drop must plan bare")
// enabled: the wrap is PHYSICAL (WrapAdaptiveProbes) — the logical plan
// stays bare (a logical wrap duplicated build subqueries into scan
// dataFilters), the executed plan carries the wrapper
spark.conf.set("spark.graft.rpt.adaptiveProbeDrop", "true")
val adDfOn = spark.sql(adSql)
adDfOn.collect()
check(!adDfOn.queryExecution.optimizedPlan.toString.contains("graft_adaptive_probe"), "adaptive wrapper leaked into the logical plan")
check(adDfOn.queryExecution.executedPlan.toString.contains("graft_adaptive_probe"), "enabled drop missing from the executed plan")
spark.conf.set("spark.graft.rpt.adaptiveProbeSampleRows", "64")
graft.rpt.AdaptiveProbe.resetDisables()
val adOn = spark.sql(adSql).collect().toSeq
val adDisables = graft.rpt.AdaptiveProbe.disables
spark.conf.set("spark.graft.rpt.enabled", "false")
val adOff = spark.sql(adSql).collect().toSeq
spark.conf.set("spark.graft.rpt.enabled", "true")
println(s"[drive] adaptiveDrop disables=$adDisables resultsEqual=${adOn == adOff}")
check(adOn == adOff, "adaptive drop changed results")
check(adDisables > 0, "keep-all probe never latched off at a 64-row sample")
graft.rpt.AdaptiveProbe.resetDisables()
val adSel = spark.sql("SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE o_totalprice > 400000").collect()
check(graft.rpt.AdaptiveProbe.disables == 0, "selective probe was dropped")
spark.conf.unset("spark.graft.rpt.adaptiveProbeDrop")
spark.conf.set("spark.graft.rpt.adaptiveProbeSampleRows", "65536")
spark.conf.set("spark.graft.rpt.minProbeRows", "65536")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

// --- round 14: size-gated pair-expansion persist (d04/d11 share one
// execution when the exact pair bound is small; stream when it is not)
val pgSmall = spark.newSession()
pgSmall.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
val pgS = graft.queries.PairGraph.pairs(pgSmall, sf)
check(pgS.storageLevel.useMemory || pgS.storageLevel.useDisk, "small-corpus pair expansion not persisted")
val pgBig = spark.newSession()
pgBig.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
pgBig.conf.set("spark.graft.dedup.pairPersistMaxPairs", "0")
val pgB = graft.queries.PairGraph.pairs(pgBig, sf)
check(pgB.storageLevel == org.apache.spark.storage.StorageLevel.NONE, "over-bound pair expansion persisted")

// --- round 15: planning-time total-work floor. SHIPPING defaults stand
// the rule down on this byte-tiny fixture (no transfers, plan identical
// to rule-off, results unchanged); waveCostBytes=0 is the
// reference-faithful master off switch that restores every transfer.
spark.conf.set("spark.graft.rpt.minProbeRows", "0")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
spark.conf.unset("spark.graft.rpt.waveCostBytes")
val flOn = spark.sql(q)
val flProbes = "might_contain".r.findAllIn(flOn.queryExecution.optimizedPlan.toString).length
val flRes = flOn.collect().map(_.toString).sorted.toSeq
spark.conf.set("spark.graft.rpt.waveCostBytes", "0")
val flOpen = spark.sql(q)
val flOpenProbes = "might_contain".r.findAllIn(flOpen.queryExecution.optimizedPlan.toString).length
val flOpenRes = flOpen.collect().map(_.toString).sorted.toSeq
spark.conf.set("spark.graft.rpt.minProbeRows", "65536")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
println(s"[drive] workFloor defaultProbes=$flProbes openProbes=$flOpenProbes resultsEqual=${flRes == flOpenRes}")
check(flProbes == 0, "shipping floor must stand down on a byte-tiny plan")
check(flOpenProbes > 0, "waveCostBytes=0 must restore transfers")
check(flRes == flOpenRes, "work floor changed results")
check(pgS.count() == pgB.count() && pgS.count() > 0, "persisted vs streamed pair sets differ")

// (The banked-filter stand-down differentials live in tools/drive2.scala —
// a second shell session, because the REPL's resident compiler crashes
// after ~700 accumulated statements in one session. Run both.)
val driveExpected = 53
if (driveFailures == 0 && driveChecksRun == driveExpected) println("[drive] ALL CHECKS PASSED") else println(s"[drive] FAILED: $driveFailures failed, $driveChecksRun/$driveExpected checks ran")
System.exit(if (driveFailures == 0 && driveChecksRun == driveExpected) 0 else 1)
