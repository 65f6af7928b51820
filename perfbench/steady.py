"""Steadiness check: run every workload repeatedly, alternating their
order, then print each end-to-end metric's median and quartiles and
compare the spread (Q3 - Q1, as a share of the median) with the bound
in BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--traced 2]

Each run gets its own seed. ``--traced N`` adds N traced runs per
workload and prints the tracing overhead: the traced median operation
time minus the untraced one. Raw results go to perfbench/work/. The
exit code is 0 when every run checked correct and every spread is
within its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def run_once(cmd: list[str], workload: str, seed: int, seconds: int, trace: int) -> dict:
    argv = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace)]
    steal0, t0 = _steal_jiffies(), time.perf_counter()
    p = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    steal = (_steal_jiffies() - steal0) / os.sysconf("SC_CLK_TCK")
    lines = p.stdout.strip().splitlines()
    try:
        out = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        out = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
        sys.stderr.write(p.stderr[-4000:])
    out.update(workload=workload, seed=seed, trace=trace, exit=p.returncode,
               wall_s=wall, steal_s=steal, summary=lines[-2] if len(lines) > 1 else "")
    tag = "ok" if p.returncode == 0 else f"EXIT {p.returncode}"
    print(f"  {workload:8s} seed={seed:<5d} trace={trace} wall={wall:6.1f}s "
          f"steal={steal:5.1f}s {tag}", flush=True)
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    with open(f"{ROOT}/BENCHMARK.json") as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--traced", type=int, default=0)
    p.add_argument("--seed-base", type=int, default=1000)
    a = p.parse_args()
    results = []
    for i in range(a.runs):
        order = workloads if i % 2 == 0 else workloads[::-1]
        for w in order:
            results.append(run_once(bench["command"], w, a.seed_base + i,
                                    bench["run_seconds"], 0))
    for i in range(a.traced):
        for w in workloads:
            results.append(run_once(bench["command"], w, a.seed_base + a.runs + i,
                                    bench["run_seconds"], 1))
    os.makedirs(f"{ROOT}/perfbench/work", exist_ok=True)
    with open(f"{ROOT}/perfbench/work/steady-{int(time.time())}.json", "w") as f:
        json.dump(results, f)

    ok = all(r["exit"] == 0 and r["correct"] and r["failed"] == 0 for r in results)
    for w in workloads:
        runs = [r for r in results if r["workload"] == w and r["trace"] == 0]
        print(f"\n{w}: {len(runs)} runs, median wall {statistics.median(r['wall_s'] for r in runs):.1f}s")
        print(f"  {'metric':14s} {'median':>12s} {'Q1':>12s} {'Q3':>12s} {'spread':>7s} {'bound':>6s}")
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r["metrics"]]
            if len(vals) < 2:
                print(f"  {m['name']:14s} missing")
                ok = False
                continue
            med, q1, q3, sp = spread(vals)
            if sp < m["bound"] / 3:
                verdict = "steady"
            elif sp <= m["bound"]:
                verdict = "within bound"
            else:
                verdict, ok = "TOO WIDE", False
            print(f"  {m['name']:14s} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{sp:7.3f} {m['bound']:6.2f} {verdict}")
        traced = [r for r in results if r["workload"] == w and r["trace"] == 1]
        if traced and runs:
            def traced_op(m):  # the crawl's traced round, or the query pass
                return m["trace.round_s"]["value"] or sum(
                    v["value"] for k, v in m.items()
                    if k.startswith("query.") and k.endswith(".s"))

            t = statistics.median(traced_op(r["metrics"]) for r in traced)
            u = statistics.median(r["metrics"]["op_s"]["value"] for r in runs)
            print(f"  tracing overhead on op_s: {t - u:+.4f}s ({(t - u) / u:+.1%})")
    print("\nall runs correct, spreads within bounds" if ok else "\nFAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
