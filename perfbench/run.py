"""Benchmark runner: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

Calls the package's public functions in-process, as the CLI does:
``session.get_spark`` with the CLI defaults at ``local[nproc]``. The
``crawl`` workload then calls ``bootstrap`` and ``run_rounds`` one round
at a time, each round resumed from the committed catalog (a closed loop
with one client: the next round starts when the previous one commits).
The ``queries`` workload calls ``QUERIES[name](spark, dir).count()``
for each query of its list, pass after pass.

The inputs come from the seed (``inputs.py``). Outputs are checked
outside the timed regions (``check.py``). The last line of stdout is one
JSON object: with ``--trace 0`` the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics, taken in a run where
``spans.Tracer`` wraps each layer. The exit code is 0 only when every
operation succeeded and every output checked correct.

Everything the run writes (inputs, catalog, Spark local dirs, JVM and
Python temp files) lives under ``perfbench/work/run-<pid>`` and is
deleted at the end; the simulator cache and the traced run's span dumps
stay in ``perfbench/work``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", "work")
sys.path[0] = ROOT

try:
    from twawler_spark.plans.round import COMPACT_EVERY
except ImportError as e:  # run outside a checkout of the program
    sys.exit(f"perfbench: the program is not in {ROOT}: {e}")

from perfbench.workloads import (  # noqa: E402
    MIN_PASSES, MIN_ROUNDS, QUERY_TABLES, WORKLOADS, Crawl,
)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _isolate_environment(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and pin the
    session to the CLI defaults at local[nproc]."""
    tmp = f"{run_dir}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp}".strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)


class Run:
    """State of one benchmark run; ``execute`` returns the result line."""

    def __init__(self, name: str, seed: int, seconds: int, run_dir: str):
        self.name, self.w, self.seed, self.seconds = name, WORKLOADS[name], seed, seconds
        self.root = f"{run_dir}/catalog"
        self.sf_dir = f"{run_dir}/tables"
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.round_s: dict[int, float] = {}
        self.stats = []  # RoundStats per completed round
        self.query_s: dict[str, list[float]] = {}
        self.order: list[tuple] = []
        self.budgets: dict[str, int] = {}
        self.spark = None
        self.catalog = None
        self.tracer = None
        self.layers = None

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.problems.append(what)

    # ------------------------------------------------------------ set-up
    def write_inputs(self) -> None:
        """The benchmark's own work, so it stays outside ``setup_s``."""
        from perfbench.inputs import write_crawl_inputs, write_query_tables

        if isinstance(self.w, Crawl):
            write_crawl_inputs(self.root, self.w.n_urls, self.w.n_hosts, self.seed)
        else:
            write_query_tables(self.sf_dir, self.w.sf, self.seed)

    def setup(self, trace: bool) -> None:
        """``setup_s``: session start, then ``bootstrap`` (crawl) or the
        first touch of the tables (queries)."""
        from twawler_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_start_s = time.perf_counter() - t0
        if trace:
            from perfbench.layers import Layers
            from perfbench.spans import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()
            self.layers = Layers(self.tracer, self.root)
        t1 = time.perf_counter()
        if isinstance(self.w, Crawl):
            self._setup_crawl()
        else:
            self._setup_queries()
        self.setup_s = self.session_start_s + (time.perf_counter() - t1)

    def _setup_crawl(self) -> None:
        from twawler_spark.io_catalog import Catalog
        from twawler_spark.plans.round import bootstrap

        self.catalog = Catalog(self.spark, self.root)
        bootstrap(self.catalog, self.catalog.read_input("frontier_seed"),
                  self.catalog.read_input("seen_seed"))

    def _setup_queries(self) -> None:
        for t in QUERY_TABLES:  # first touch: file listing, schema and footers
            self.spark.read.parquet(f"{self.sf_dir}/{t}.parquet").count()

    # --------------------------------------------------------- measuring
    def measure(self) -> None:
        if isinstance(self.w, Crawl):
            self._crawl()
        else:
            self._queries()

    def _crawl(self) -> None:
        """Resumed rounds, one at a time, for at least ``MIN_ROUNDS``
        rounds and at least the run's seconds."""
        from twawler_spark.plans.round import run_rounds

        t_end = time.perf_counter() + self.seconds
        r = 0
        while r < MIN_ROUNDS or time.perf_counter() < t_end:
            r += 1
            self.attempted += 1
            if self.layers:
                self.layers.before_round(r)
            t0 = time.perf_counter()
            try:
                if self.tracer:
                    with self.tracer.span("round"):
                        (st,) = run_rounds(self.catalog, r, n_hosts=self.w.n_hosts)
                else:
                    (st,) = run_rounds(self.catalog, r, n_hosts=self.w.n_hosts)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.fail(f"round {r} raised")
                return
            self.round_s[r] = time.perf_counter() - t0
            self.stats.append(st)
            if self.layers:
                self.layers.after_round(r)

    def _queries(self) -> None:
        """One untimed pass that collects every result and checks it
        against its DuckDB oracle, then passes of ``.count()``: an
        untimed warm-up pass (the counts compile other plans than the
        collects) and timed passes for at least the run's seconds and at
        least ``MIN_PASSES`` passes."""
        from twawler_spark.registry import ORACLES, QUERIES

        from perfbench.check import Oracle

        oracle = Oracle(self.sf_dir, QUERY_TABLES)
        n_rows: dict[str, int] = {}
        try:
            for q in self.w.names:
                self.attempted += 1
                try:
                    df = QUERIES[q](self.spark, self.sf_dir)
                    cols, rows = df.columns, [tuple(r) for r in df.collect()]
                    bad = oracle.problems(ORACLES[q], cols, rows)
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    bad = ["raised"]
                if bad:
                    self.fail(f"query {q}: {'; '.join(bad)}")
                else:
                    n_rows[q] = len(rows)
        finally:
            oracle.close()
        self.query_s = {q: [] for q in n_rows}
        t_end = time.perf_counter() + self.seconds
        passes = -1  # pass 0 warms up
        while passes < MIN_PASSES or (time.perf_counter() < t_end and passes < 8):
            passes += 1
            for q in n_rows:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if self.tracer and passes:
                        with self.tracer.span(f"query.{q}"):
                            n = QUERIES[q](self.spark, self.sf_dir).count()
                    else:
                        n = QUERIES[q](self.spark, self.sf_dir).count()
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    n = None
                dt = time.perf_counter() - t0
                if n != n_rows[q]:
                    self.fail(f"query {q}: count {n} != checked {n_rows[q]}")
                    continue
                if passes:
                    self.query_s[q].append(dt)
            if self.tracer:
                self.tracer.harvest()

    def check_crawl(self) -> None:
        """Untimed: crawl order, seen set and per-host plan caps against
        the sequential simulator."""
        from twawler_spark.plans.round import read_seen

        from perfbench.check import crawl_problems, expected_crawl

        if not self.stats:
            return
        n = self.stats[-1].round
        order_pdf = self.catalog.read_appended("crawl_order").select(
            "round", "host", "phase", "fetch_rank", "url_hash").toPandas()
        self.order = [
            (int(r), h, p, int(k), int(u))
            for r, h, p, k, u in order_pdf.itertuples(index=False)
        ]
        seen = set(
            read_seen(self.catalog, n).select("url_hash").toPandas()["url_hash"].tolist()
        )
        self.budgets = {
            r["host"]: int(r["budget_per_round"])
            for r in self.catalog.read_input("host_budget").collect()
        }
        expected = expected_crawl(self.root, n, self.w.n_hosts, f"{WORK}/cache")
        for p in crawl_problems(self.order, seen, self.budgets, expected):
            # a wrong crawl output fails every round that produced it
            self.fail(p, n=len(self.stats))

    # ----------------------------------------------------------- metrics
    def end_to_end(self) -> dict:
        """The operation is a resumed non-compaction round (crawl; the
        bootstrap before round 1 has already run every stage of the
        round once) or one pass over the query list, timed as the sum of
        each query's median (queries). Work per second counts URLs
        scheduled plus deduplicated per second of round time,
        compaction rounds included (crawl), or queries per second of
        pass time (queries)."""
        if isinstance(self.w, Crawl):
            op = _median([s for r, s in self.round_s.items() if r % COMPACT_EVERY])
            done = sum(st.n_scheduled + st.n_candidates for st in self.stats)
            rounds_s = sum(self.round_s.values())
            work = done / rounds_s if rounds_s else 0.0
        else:
            op = sum(_median(v) for v in self.query_s.values())
            work = len(self.query_s) / op if op else 0.0
        return {
            "setup_s": (self.setup_s, "s"),
            "op_s": (op, "s"),
            "work_per_s": (work, "1/s"),
        }

    def summary(self) -> str:
        if isinstance(self.w, Crawl):
            rounds = ", ".join(f"r{r} {s:.2f}s" for r, s in self.round_s.items())
            samples = f"rounds: {rounds}"
        else:
            per_query = "; ".join(
                f"{q} " + "/".join(f"{t:.2f}" for t in ts) for q, ts in self.query_s.items())
            samples = f"query seconds per pass: {per_query}"
        frac = self.failed / self.attempted if self.attempted else 1.0
        return (f"# {self.name} seed={self.seed}: {samples}; "
                f"failed_frac={frac:.4f} ({self.failed}/{self.attempted})")


def execute(name: str, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench.procs import PeakRss, stop_spark

    run_dir = f"{WORK}/run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _isolate_environment(run_dir)
    run = Run(name, seed, seconds, run_dir)
    rss = PeakRss() if trace else None  # memory is a per-layer metric
    try:
        with rss or contextlib.nullcontext():
            try:
                run.write_inputs()
                run.setup(trace)
                run.measure()
                if run.tracer:
                    run.tracer.uninstall()
                run.check_crawl()
                if run.layers:
                    metrics = run.layers.finish(run, rss.peak_mib)
                else:
                    metrics = run.end_to_end()
            finally:
                if run.spark is not None:
                    stop_spark(run.spark)
        if run.layers:
            run.layers.dump(f"{WORK}/spans-{name}-seed{seed}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in run.problems:
        print(f"# FAIL {p}")
    print(run.summary())
    return {
        "correct": not run.problems,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    result = execute(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))
    return 0 if result["correct"] and result["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
