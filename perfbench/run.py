#!/usr/bin/env python3
"""One benchmark run of rpt-spark, from the root of a source checkout:

    python3 perfbench/run.py --workload job_broadcast --seed 1 --seconds 20 --trace 0

It builds the program and the harness from source (perfbench/harness), makes
or reuses the inputs and DuckDB's expected results, writes the seeded
schedule, runs it in a fresh JVM on local[k] with one client issuing queries
in sequence, checks every result and prints the metrics as the last line of
standard output. With --trace 0 the line holds the end-to-end metrics, with
--trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import expected
import stats

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".bench_build" / "perfbench"
HARNESS = BENCH / "harness"
CLASSES = HARNESS / "target" / "scala-2.13" / "classes"

# The inputs, each fixed by a rule chosen before anything was measured.
# JOB: the synthetic IMDB fixtures at factor 0.1 and the first variant of
# every 11th family (1a, 12a, 23a: join graphs of 5, 8 and 9 relations).
# Registry: the TPC-H-ish fixtures at sf0.01 (perfbench/data) and the first
# query, by name, of each of the seven registry families.
IMDB_FACTOR = "0.1"
JOB_QUERIES = ["1a", "12a", "23a"]
REGISTRY_DATA = BENCH / "data" / "sf0.01"

WORKLOADS = {
    "job_shuffle": {"kind": "job",
                    "confs": {"spark.sql.autoBroadcastJoinThreshold": "-1"}},
    "job_broadcast": {"kind": "job",
                      "confs": {"spark.sql.autoBroadcastJoinThreshold": "10485760"}},
    "registry": {"kind": "registry", "confs": {}},
}
PLANNED_PASSES = 400
CORES = min(4, len(os.sched_getaffinity(0)))
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def sha(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p if isinstance(p, bytes) else str(p).encode())
        h.update(b"\0")
    return h.hexdigest()


def tree_hash(*dirs):
    files = sorted(f for d in dirs if d.exists() for f in d.rglob("*")
                   if f.is_file() and "target" not in f.relative_to(d).parts)
    return sha(*(x for f in files for x in (str(f.relative_to(ROOT)), f.read_bytes())))


def log_tail(path, n=40):
    try:
        return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])
    except OSError:
        return ""


def run_proc(cmd, cwd, log, timeout, env=None):
    """Runs `cmd` in its own process group, output to `log`; on timeout the
    whole group is killed and waited for."""
    with open(log, "ab") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if code != 0:
        raise BenchError(f"{cmd[0]} exited {code}; log {log}:\n{log_tail(log)}")


def build():
    """Compiles the program and the harness (one sbt project) unless the
    sources are unchanged since the last build in this checkout."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        raise BenchError(f"no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    key = tree_hash(ROOT / "src" / "main", HARNESS)
    stamp = STATE / "build.stamp"
    if CLASSES.is_dir() and stamp.exists() and stamp.read_text() == key:
        return key
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = STATE / "build.log"
    log.unlink(missing_ok=True)
    run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/products"], HARNESS, log, 800, env)
    stamp.write_text(key)
    return key


def spark_jars():
    """The Spark jars directory the program's build.sbt compiles against."""
    m = re.search(r'unmanagedBase := file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise BenchError("the program's build.sbt names no unmanagedBase")
    return m.group(1)


def java(args, work, log, timeout):
    """Runs a JVM on the built classes with every file it writes kept
    under `work`."""
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-cp", f"{CLASSES}:{spark_jars()}/*", *args]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(CORES)
    run_proc(cmd, work, log, timeout, env)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def check_rows(data_dir, tables):
    """The parquet row counts of `data_dir`, checked with DuckDB against
    the counts recorded in inputs.json."""
    import duckdb
    con = duckdb.connect()
    got = {t: con.execute(f"SELECT count(*) FROM {expected.source(data_dir / f'{t}.parquet')}")
           .fetchone()[0]
           for t in tables}
    con.close()
    bad = {t: (got[t], n) for t, n in tables.items() if got[t] != n}
    if bad:
        raise BenchError(f"row counts of {data_dir} differ from inputs.json (got, want): {bad}")


def inputs(kind):
    """The data directory of a workload kind: the committed registry
    fixtures, or the IMDB fixtures generated once per checkout and reused
    while the factor and the generator are unchanged."""
    recorded = json.loads((BENCH / "inputs.json").read_text())
    if kind == "registry":
        check_rows(REGISTRY_DATA, recorded["registry"]["rows"])
        return REGISTRY_DATA
    gen = ROOT / "src" / "main" / "scala" / "graft" / "tools" / "ImdbFixtures.scala"
    key = sha(IMDB_FACTOR, gen.read_bytes())
    data = STATE / f"imdb_f{IMDB_FACTOR}"
    stamp = STATE / f"imdb_f{IMDB_FACTOR}.stamp"
    if not (stamp.exists() and stamp.read_text() == key and data.is_dir()):
        stamp.unlink(missing_ok=True)
        shutil.rmtree(data, ignore_errors=True)
        work = fresh_dir(STATE / "work")
        t0 = time.time()
        java(["graft.tools.ImdbFixtures", str(data), IMDB_FACTOR], work, STATE / "fixtures.log", 600)
        shutil.rmtree(work, ignore_errors=True)
        print(f"[perfbench] generated IMDB fixtures f{IMDB_FACTOR} in {time.time() - t0:.1f}s",
              file=sys.stderr)
        stamp.write_text(key)
    check_rows(data, recorded["job"]["rows"])
    return data


def sql_dump(build_key):
    """The SQL text the harness runs (JOB) and the registry's oracle SQL,
    as the built program declares them."""
    path = STATE / "sql.json"
    stamp = STATE / "sql.stamp"
    if not (path.exists() and stamp.exists() and stamp.read_text() == build_key):
        work = fresh_dir(STATE / "work")
        java(["perfbench.Harness", "sql", str(path)], work, STATE / "sql.log", 120)
        shutil.rmtree(work, ignore_errors=True)
        stamp.write_text(build_key)
    return json.loads(path.read_text())


def workload_queries(kind, sqls):
    if kind == "job":
        known = {e["name"] for e in sqls["job"]}
        missing = [q for q in JOB_QUERIES if q not in known]
        if missing:
            raise BenchError(f"JOB queries missing from the program: {missing}")
        return list(JOB_QUERIES)
    families = {}
    for e in sqls["registry"]:
        families.setdefault(e["family"], []).append(e["name"])
    return sorted(min(names) for names in families.values())


def expected_for(kind, data, sqls, force=False):
    """DuckDB's results for the workload's SQL over `data`, made anew when
    the SQL, the data or the expected-results code changed."""
    queries = set(workload_queries(kind, sqls))
    entries = ({e["name"]: e["sql"] for e in sqls["job"] if e["name"] in queries}
               if kind == "job" else
               {e["name"]: e["oracle"] for e in sqls["registry"]
                if e["oracle"] and e["name"] in queries})
    data_key = (STATE / f"imdb_f{IMDB_FACTOR}.stamp").read_text() if kind == "job" \
        else tree_hash(REGISTRY_DATA)
    key = sha(json.dumps(entries, sort_keys=True), data_key,
              (BENCH / "expected.py").read_bytes())
    path = STATE / f"expected_{kind}.json"
    if not force and path.exists():
        cached = json.loads(path.read_text())
        if cached.get("key") == key:
            return cached["results"]
    results = expected.results(data, entries, kind)
    path.write_text(json.dumps({"key": key, "results": results}, sort_keys=True))
    return results


def check(executions, kind, want, sqls):
    """Marks each execution failed when it threw or its result differs from
    DuckDB's, or, for a registry query without an oracle, when its rule-on
    and rule-off results differ. Returns whether every execution that did
    not fail was compared with something."""
    spark_only = {e["name"] for e in sqls["registry"] if not e["oracle"]} \
        if kind == "registry" else set()
    by_pass = {}
    verified = True
    for x in executions:
        x["failed"] = "err" in x
        if x["failed"]:
            continue
        got = {k: x[k] for k in ("cols", "rows", "digest")}
        if x["q"] in spark_only:
            by_pass.setdefault((x["q"], x["pass"]), {})[x["rule"]] = x
        elif x["q"] not in want:
            verified = False
        elif got != {k: want[x["q"]][k] for k in got}:
            x["failed"] = True
            x["err"] = f"result differs from DuckDB: {got} != {want[x['q']]}"
    for pair in by_pass.values():
        if set(pair) != {"on", "off"}:
            verified = False
        elif (pair["on"]["digest"], pair["on"]["rows"]) != (pair["off"]["digest"], pair["off"]["rows"]):
            for x in pair.values():
                x["failed"] = True
                x["err"] = "rule-on and rule-off results differ"
    return verified


def per_pass(executions, passes, rule, field):
    return sum(x.get(field, 0) for x in executions if x["rule"] == rule) / passes


def end_to_end(out, timed):
    """`timed` holds whole passes only, so every query has both sides of
    each of its pairs."""
    walls, sides = {}, {}
    for x in timed:
        walls.setdefault((x["rule"], x["pass"]), 0.0)
        walls[(x["rule"], x["pass"])] += x["ms"]
        sides.setdefault((x["q"], x["pass"]), {})[x["rule"]] = x["ms"]
    pairs = {}
    for (q, _), side in sides.items():
        pairs.setdefault(q, []).append((side["off"], side["on"]))
    return {
        "wall_s": (statistics.median(v for (r, _), v in walls.items() if r == "on") / 1e3, "s"),
        "wall_off_s": (statistics.median(v for (r, _), v in walls.items() if r == "off") / 1e3, "s"),
        "rpt_speedup_geomean": (stats.pair_speedup_geomean(pairs), "x"),
        "setup_s": (out["setup_s"], "s"),
        "heap_retained_mb": (out["heap_retained_mb"], "MB"),
    }


# The phases whose jobs are the query's own: registry operators and streaming
# drains start jobs while the frame is built, the rest run in collect().
# Jobs started during optimization are planning-time jobs (plan.jobs).
QUERY_JOBS = ["analyze", "execute"]


def per_layer(out, timed, warmup, families):
    n = len({x["pass"] for x in timed})
    host = out.get("host", {})
    stream = out.get("stream", {})

    def tag_sum(rows, phases, field, table):
        """Per-pass total of `field` over the tags of `rows` in `phases`."""
        total = sum(table.get(f"{out['workload']}/{x['q']}/{x['rule']}/{x['pass']}/{p}", {})
                    .get(field, 0) for x in rows for p in phases)
        return total / max(1, len({x["pass"] for x in rows}))

    on = [x for x in timed if x["rule"] == "on"]
    off = [x for x in timed if x["rule"] == "off"]
    spans = {}
    for s in out.get("spans", []):
        spans.setdefault(s["id"], {})[s["name"]] = (s["start_ns"], s["end_ns"])

    def span_ms(rows, name):
        total = 0.0
        for x in rows:
            sp = spans.get(f"{out['workload']}/{x['q']}/{x['rule']}/{x['pass']}", {})
            if name in sp:
                total += (sp[name][1] - sp[name][0]) / 1e6
        return total / n

    def query_self_ms(rows):
        total = 0.0
        for x in rows:
            sp = spans.get(f"{out['workload']}/{x['q']}/{x['rule']}/{x['pass']}", {})
            if "query" in sp:
                kids = [v for k, v in sp.items() if k != "query"]
                total += stats.self_time(sp["query"], kids) / 1e6
        return total / n

    rows_in = per_pass(timed, n, "on", "probe_rows_in")
    rows_out = per_pass(timed, n, "on", "probe_rows_out")
    fam = {f: sum(x["ms"] for x in on if families.get(x["q"]) == f) / n / 1e3
           for f in ("relational", "dedup", "similarity", "text", "multimodal",
                     "pipeline", "streaming")}
    m = {
        "plan.optimize_ms": (per_pass(timed, n, "on", "optimize_ms"), "ms"),
        "plan.optimize_off_ms": (per_pass(timed, n, "off", "optimize_ms"), "ms"),
        "plan.rule_ms": (per_pass(timed, n, "on", "rule_ms"), "ms"),
        "plan.jobs": (tag_sum(on, ["optimize"], "jobs", host), "count"),
        "plan.jobs_first": (tag_sum([x for x in warmup if x["rule"] == "on"], ["optimize"],
                                    "jobs", host), "count"),
        "plan.probes": (per_pass(timed, n, "on", "probes"), "count"),
        "plan.builds": (per_pass(timed, n, "on", "builds"), "count"),
        "build.count": (per_pass(timed, n, "on", "build_count"), "count"),
        "build.collect_ms": (per_pass(timed, n, "on", "build_collect_ms"), "ms"),
        "build.bytes": (per_pass(timed, n, "on", "build_bytes"), "B"),
        "probe.rows_in": (rows_in, "rows"),
        "probe.rows_out": (rows_out, "rows"),
        "probe.keep": (rows_out / rows_in if rows_in else 1.0, "ratio"),
        "probe.useless": (per_pass(timed, n, "on", "probe_useless"), "count"),
        "probe.stage_ms": (per_pass(timed, n, "on", "probe_stage_ms"), "ms"),
        "exec.scan_rows": (tag_sum(on, QUERY_JOBS, "scan_rows", host), "rows"),
        "exec.shuffle_bytes": (tag_sum(on, QUERY_JOBS, "shuffle_bytes", host), "B"),
        "exec.shuffle_bytes_off": (tag_sum(off, QUERY_JOBS, "shuffle_bytes", host), "B"),
        "exec.spill_bytes": (tag_sum(on, QUERY_JOBS, "spill_bytes", host), "B"),
        "exec.task_ms": (tag_sum(on, QUERY_JOBS, "task_ms", host), "ms"),
        "exec.gc_ms": (tag_sum(on, QUERY_JOBS, "gc_ms", host), "ms"),
        "exec.stages": (tag_sum(on, QUERY_JOBS, "stages", host), "count"),
        "exec.execute_ms": (span_ms(on, "execute"), "ms"),
        "stream.batches": (tag_sum(on, QUERY_JOBS, "batches", stream), "count"),
        "stream.planning_ms": (tag_sum(on, QUERY_JOBS, "planning_ms", stream), "ms"),
        "stream.add_batch_ms": (tag_sum(on, QUERY_JOBS, "add_batch_ms", stream), "ms"),
        "stream.commit_ms": (tag_sum(on, QUERY_JOBS, "commit_ms", stream), "ms"),
        "setup.session_s": (out["setup"]["session_s"], "s"),
        "setup.views_s": (out["setup"]["views_s"], "s"),
        "setup.warmup_s": (out["setup"]["warmup_s"], "s"),
        "latency.p50_ms": (stats.percentile([x["ms"] for x in on], 50), "ms"),
        "trace.wall_s": (sum(x["ms"] for x in on) / n / 1e3, "s"),
        "trace.query_self_ms": (query_self_ms(on), "ms"),
    }
    m.update({f"registry.{f}_s": (v, "s") for f, v in fam.items()})
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    spec = WORKLOADS[a.workload]
    kind = spec["kind"]
    try:
        STATE.mkdir(parents=True, exist_ok=True)
        build_key = build()
        sqls = sql_dump(build_key)
        data = inputs(kind)
        want = expected_for(kind, data, sqls)
        queries = workload_queries(kind, sqls)
        families = {e["name"]: e["family"] for e in sqls["registry"]}
        job_sql = [e["sql"] for e in sqls["job"] if e["name"] in queries]
        tables = sorted(t for t in expected.IMDB_TABLES
                        if any(re.search(rf"\b{t}\s+AS\b", q, re.I) for q in job_sql))
        plan = {
            "workload": a.workload, "kind": kind, "data": str(data), "tables": tables,
            "confs": spec["confs"],
            "seconds": a.seconds, "trace": bool(a.trace),
            "warmup": stats.schedule(queries, a.seed ^ 0x5EED, 1)[0],
            "passes": stats.schedule(queries, a.seed, PLANNED_PASSES),
        }
        work = fresh_dir(STATE / "work")
        (work / "plan.json").write_text(json.dumps(plan))
        log = STATE / "last_run.log"
        log.unlink(missing_ok=True)
        java(["perfbench.Harness", "run", str(work / "plan.json"), str(work / "out.json")],
             work, log, 170)
        out = json.loads((work / "out.json").read_text())
        shutil.rmtree(work, ignore_errors=True)
        out["workload"] = a.workload
        execs = out["executions"]
        verified = check(execs, kind, want, sqls)
        warmup = [x for x in execs if x["pass"] < 0]
        timed = [x for x in execs if x["pass"] >= 0]
        failed = [x for x in timed if x["failed"]]
        for x in [x for x in execs if x["failed"]][:5]:
            print(f"[perfbench] FAILED {x['q']} rule {x['rule']} pass {x['pass']}: {x['err']}",
                  file=sys.stderr)
        correct = verified and not any(x["failed"] for x in execs)
        # A pass with a failed execution is left out whole, so that a query
        # that throws or returns wrong rows cannot read as a faster pass.
        bad = {x["pass"] for x in failed}
        good = [x for x in timed if x["pass"] not in bad]
        if not good:
            raise BenchError(f"every one of the {out['passes']} timed passes had a failed execution")
        metrics = per_layer(out, good, warmup, families) if a.trace else end_to_end(out, good)
    except BenchError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        return 1
    print(f"[perfbench] {a.workload} seed {a.seed}: {out['passes']} passes in "
          f"{out['timed_s']:.1f}s on local[{out['cores']}], attempted {len(timed)}, "
          f"failed {len(failed)}, warm-up failures {sum(x['failed'] for x in warmup)}")
    print(json.dumps({
        "correct": correct, "attempted": len(timed), "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
