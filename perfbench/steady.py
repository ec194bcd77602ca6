#!/usr/bin/env python3
"""Steadiness of the end-to-end metrics: runs one workload N times, with
seeds 1 to N, and prints for each metric the median, the quartiles and
the spread (q3 - q1) / median against the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload job_broadcast --runs 10
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

import stats

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    values, failed = {}, []
    for seed in range(1, a.runs + 1):
        proc = subprocess.run(
            [sys.executable, str(BENCH / "run.py"), "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        if proc.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{proc.stderr[-2000:]}")
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        failed.append((res["failed"], res["attempted"]))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    print(f"\n{a.workload}: {a.runs} runs, failed/attempted per run: "
          + " ".join(f"{f}/{n}" for f, n in failed))
    print(f"{'metric':<22}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}  within bound/3")
    for k, vs in values.items():
        q1, med, q3, sp = stats.spread(vs)
        b = bounds[k]["bound"]
        ok = "n/a (set-up)" if k == "setup_s" else ("yes" if sp < b / 3 else "NO")
        print(f"{k:<22}{med:>12.4g}{q1:>12.4g}{q3:>12.4g}{sp:>9.3f}{b:>7.2f}  {ok}")


if __name__ == "__main__":
    main()
