"""Spans recorded from outside the program, around calls into its layers.

``Tracer.install`` wraps the public entry points of each layer in place
(class attributes and module globals) and ``uninstall`` puts the
originals back. Each span records name, start, end, parent and round id
and is kept in memory. Each span also tags the Spark jobs it starts:
the ``spark.job.description`` local property carries the span id, the
SQL status store copies it into the execution description, and
``harvest`` reads rows, shuffle bytes and Python-worker time per span
from the store after the round has finished (outside its timing).
"""

from __future__ import annotations

import contextlib
import functools
import re
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

from twawler_spark import io_catalog
from twawler_spark.operators import seen_filter
from twawler_spark.plans import round as round_mod

_TAG = "perfbench-span:"
_DESC = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    round: int | None
    end: float = 0.0
    stats: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def checkpoint_kind(df: DataFrame) -> str:
    """Name a ``localCheckpoint`` by the schema it materialises."""
    cols = set(df.columns)
    if "fetch_rank" in cols:
        return "plan"
    if "status" in cols:
        return "results"
    if {"url", "url_hash"} <= cols:
        return "links"  # candidates before the Bloom load, admitted after
    return "other"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.round: int | None = None
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self._harvested_exec = -1
        self._bloom_loaded = False

    # ------------------------------------------------------------ spans
    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.perf_counter(), parent, self.round)
        self.spans.append(sp)
        self._stack.append(sp)
        self.spark.sparkContext.setLocalProperty(_DESC, f"{_TAG}{sp.id}")
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        outer = f"{_TAG}{self._stack[-1].id}" if self._stack else None
        self.spark.sparkContext.setLocalProperty(_DESC, outer)

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def start_round(self, round_no: int) -> None:
        self.round = round_no
        self._bloom_loaded = False

    # ---------------------------------------------------------- install
    def _wrap(self, owner, attr: str, namer) -> None:
        raw = owner.__dict__.get(attr)
        if raw is None:  # layer renamed or removed: its spans stay empty
            return
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(namer(args, kwargs)):
                return fn(*args, **kwargs)

        setattr(owner, attr, kind(wrapper) if kind else wrapper)
        self._undo.append((owner, attr, raw))

    def install(self) -> None:
        def table(prefix, i):  # Catalog methods take the table name at args[i]
            return lambda a, k: f"{prefix}.{k.get('table', a[i] if len(a) > i else '?')}"

        cat = io_catalog.Catalog
        self._wrap(cat, "append", table("catalog.append", 2))
        self._wrap(cat, "write_snapshot", table("catalog.snapshot", 2))
        self._wrap(cat, "commit_round", table("catalog.commit", 1))
        for m in ("read_input", "read_appended", "read_snapshot", "read_manifest"):
            self._wrap(cat, m, lambda a, k, m=m: f"catalog.{m}")
        bloom = seen_filter.BroadcastBloom
        for m in ("build", "update", "save"):
            self._wrap(bloom, m, lambda a, k, m=m: f"seen_filter.{m}")
        self._wrap(bloom, "load", self._on_bloom_load)
        self._wrap(ClassicDataFrame, "localCheckpoint", self._checkpoint_name)
        # direct Spark reads and the round-metrics frame inside run_round
        self._wrap(DataFrameReader, "parquet", lambda a, k: "io.read_parquet")
        self._wrap(SparkSession, "createDataFrame", lambda a, k: "io.create_dataframe")
        # lazy plan functions: not Spark jobs, but their analysis time is
        # part of the round's wall time and belongs to their phase
        for fn in ("read_frontier", "read_seen", "build_two_phase_plan",
                   "merge_fetch_results", "admit", "fetch_documents",
                   "fetch_results", "discover_outlinks", "expire_frontier_history"):
            self._wrap(round_mod, fn, lambda a, k, fn=fn: f"build.{fn}")

    def _on_bloom_load(self, a, k) -> str:
        self._bloom_loaded = True
        return "seen_filter.load"

    def _checkpoint_name(self, a, k) -> str:
        kind = checkpoint_kind(a[0])
        if kind == "links":
            kind = "admitted" if self._bloom_loaded else "candidates"
        return f"checkpoint.{kind}"

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()
        self.spark.sparkContext.setLocalProperty(_DESC, None)

    # ---------------------------------------------------------- harvest
    def harvest(self) -> None:
        """Attach status-store figures of every finished SQL execution
        since the last harvest to the span that tagged it."""
        jss = self.spark._jsparkSession
        store = jss.sharedState().statusStore()
        app = jss.sparkContext().statusStore()
        by_id = {sp.id: sp for sp in self.spans}
        it = store.executionsList().reverseIterator()  # newest first
        newest = self._harvested_exec
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._harvested_exec:
                break
            newest = max(newest, eid)
            desc = ex.description() or ""
            if not desc.startswith(_TAG):
                continue
            sp = by_id.get(int(desc[len(_TAG):]))
            if sp is None:
                continue
            st = sp.stats
            st["executions"] = st.get("executions", 0) + 1
            stages = ex.stages().iterator()
            while stages.hasNext():
                try:
                    sd = app.lastStageAttempt(stages.next())
                except Py4JError:  # skipped stage: no attempt was recorded
                    continue
                for key, val in (
                    ("shuffle_bytes", sd.shuffleWriteBytes()),
                    ("shuffle_records", sd.shuffleWriteRecords()),
                    ("output_rows", sd.outputRecords()),
                    ("output_bytes", sd.outputBytes()),
                    ("input_rows", sd.inputRecords()),
                ):
                    st[key] = st.get(key, 0) + int(val)
            st["python_s"] = st.get("python_s", 0.0) + _python_seconds(store, ex)
        self._harvested_exec = newest


_DUR = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _python_seconds(store, ex) -> float:
    """Sum of the SQL metric 'time to run Python workers' over the
    execution's plan nodes (the Arrow/pandas boundary)."""
    ids = []
    ms = ex.metrics().iterator()
    while ms.hasNext():
        m = ms.next()
        if m.name() == "time to run Python workers":
            ids.append(m.accumulatorId())
    if not ids:
        return 0.0
    values = {}
    it = store.executionMetrics(ex.executionId()).iterator()
    while it.hasNext():
        kv = it.next()
        values[kv._1()] = kv._2()
    total = 0.0
    for acc in ids:
        v = values.get(acc)
        if v is None:
            continue
        text = str(v).splitlines()[-1]  # "total (...)\n815 ms (...)"
        m = _DUR.search(text)
        if m:
            total += float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
    return total
