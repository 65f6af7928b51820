"""Per-layer metrics of a traced run.

Layers are named after the package's modules. Phase times come from the
spans ``spans.Tracer`` records around calls into each layer; rows and
shuffle bytes from the SQL status store; the derived counters (Bloom
false-positive rate, budget use and skew, bytes written) from the
catalog the run left behind, computed after the rounds so they cost the
rounds nothing. Per-round figures are medians over all rounds of the
run.
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np

from twawler_spark.plans.round import COMPACT_EVERY

from perfbench.check import CRAWL_INPUTS, plan_cap
from perfbench.workloads import ALL_QUERIES

APPEND_TABLES = ("documents", "crawl_order", "follow_edges", "frontier_v",
                 "seen", "round_metrics")

# top-level span of a round -> the phase it belongs to; other
# "catalog." writes and commits are the catalog phase
PHASE = {
    "build.read_seen": "schedule",
    "build.build_two_phase_plan": "schedule",
    "checkpoint.plan": "schedule",
    "build.fetch_documents": "fetch",
    "catalog.append.documents": "fetch",
    "build.fetch_results": "fetch",
    "checkpoint.results": "fetch",
    "build.discover_outlinks": "discover",
    "catalog.append.follow_edges": "discover",
    "checkpoint.candidates": "discover",
    "seen_filter.load": "admission",
    "build.admit": "admission",
    "checkpoint.admitted": "admission",
    "seen_filter.update": "seen_filter",
    "seen_filter.save": "seen_filter",
    "seen_filter.build": "seen_filter",
}
PHASES = ("schedule", "fetch", "discover", "admission", "seen_filter", "catalog")

# every per-layer metric a traced run reports, with its unit
PER_LAYER = {
    "session.start_s": "s",
    "session.peak_rss_mb": "MiB",
    "schedule.s": "s",
    "schedule.shuffle_bytes": "B",
    "schedule.active_rows": "rows",
    "schedule.scheduled_rows": "rows",
    "schedule.budget_use": "ratio",
    "schedule.host_skew": "ratio",
    "fetcher.documents_s": "s",
    "fetcher.results_s": "s",
    "fetcher.discover_s": "s",
    "fetcher.docs": "rows",
    "fetcher.candidates": "rows",
    "fetcher.python_s": "s",
    "admission.s": "s",
    "admission.admitted_ratio": "ratio",
    "seen_filter.load_s": "s",
    "seen_filter.update_s": "s",
    "seen_filter.save_s": "s",
    "seen_filter.rebuilds": "count",
    "seen_filter.bytes": "B",
    "seen_filter.observed_fpr": "ratio",
    "seen_filter.confirm_useful_ratio": "ratio",
    **{f"catalog.append_s.{t}": "s" for t in APPEND_TABLES},
    "catalog.compact_s": "s",
    "catalog.commit_s": "s",
    "catalog.bytes_written": "B",
    "catalog.files_written": "count",
    "catalog.bytes_per_live_row": "B/row",
    **{f"query.{q}.{m}": u for q in ALL_QUERIES for m, u in (("s", "s"), ("shuffle_bytes", "B"))},
    "trace.round_s": "s",
    "trace.compact_round_s": "s",
    "trace.coverage": "ratio",
    **{f"trace.share.{p}": "ratio" for p in PHASES},
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for top in os.listdir(root):
        if top in CRAWL_INPUTS:
            continue
        for d, _, names in os.walk(f"{root}/{top}"):
            for n in names:
                st = os.stat(f"{d}/{n}")
                out[f"{d}/{n}"] = (st.st_size, st.st_mtime_ns)
    return out


class Layers:
    def __init__(self, tracer, root: str):
        self.tracer = tracer
        self.root = root
        self._before: dict = {}
        self.written: dict[int, tuple[int, int]] = {}  # round -> (bytes, files)

    def before_round(self, r: int) -> None:
        self.tracer.start_round(r)
        self._before = _files(self.root)

    def after_round(self, r: int) -> None:
        self.tracer.harvest()
        after = _files(self.root)
        new = [sz for p, (sz, mt) in after.items() if self._before.get(p) != (sz, mt)]
        self.written[r] = (sum(new), len(new))

    # ------------------------------------------------------------ phases
    def _round_spans(self) -> dict[int, tuple]:
        """round -> (round span, [(phase, top-level child span)]). Reads,
        frame creation and ``read_frontier`` take the phase of the next
        call, the one that consumes them (plans are lazy): the frontier
        read at the start of a round feeds the schedule, the one in a
        compaction round feeds the snapshot."""
        spans = self.tracer.spans
        out = {}
        for sp in spans:
            if sp.name != "round" or sp.round is None:
                continue
            kids = [c for c in spans if c.parent == sp.id]
            phases = [
                PHASE.get(c.name) or (
                    "catalog" if c.name.startswith("catalog.")
                    and not c.name.startswith("catalog.read_") else None)
                for c in kids
            ]
            nxt = "catalog"
            for i in range(len(kids) - 1, -1, -1):
                nxt = phases[i] = phases[i] or nxt
            out[sp.round] = (sp, list(zip(phases, kids)))
        return out

    def phase_shares(self) -> dict[str, float]:
        tot = dict.fromkeys(PHASES, 0.0)
        wall = 0.0
        for sp, kids in self._round_spans().values():
            wall += sp.seconds
            for phase, c in kids:
                tot[phase] += c.seconds
        return {p: (s / wall if wall else 0.0) for p, s in tot.items()}

    # ----------------------------------------------------------- counters
    def _bloom_counters(self, catalog, rounds: list[int]) -> tuple[float, float]:
        """Observed false-positive rate and confirm-useful ratio of the
        filter each round loaded, over that round's candidates."""
        from twawler_spark.operators import seen_filter
        from twawler_spark.plans.round import bloom_prefix

        seen = catalog.read_appended("seen").select("url_hash", "round").toPandas()
        edges = catalog.read_appended("follow_edges").select("dst_hash", "round").toPandas()
        flagged_new = new = flagged = flagged_seen = 0
        for r in rounds:
            cands = np.unique(edges["dst_hash"][edges["round"] == r].to_numpy(np.int64))
            known = np.isin(cands, seen["url_hash"][seen["round"] <= r - 1].to_numpy())
            bloom = seen_filter.BroadcastBloom.load(bloom_prefix(catalog, r - 1))
            flag = seen_filter._bits_test(
                bloom.bits, seen_filter._positions(cands, bloom.m_bits, bloom.k_hashes)
            )
            flagged_new += int((flag & ~known).sum())
            new += int((~known).sum())
            flagged += int(flag.sum())
            flagged_seen += int((flag & known).sum())
        return (flagged_new / new if new else 0.0,
                flagged_seen / flagged if flagged else 0.0)

    # ------------------------------------------------------------ result
    def finish(self, run, peak_rss_mib: float) -> dict:
        """Every per-layer metric of ``PER_LAYER``; a layer the workload
        does not use reads 0."""
        values = self._crawl_layers(run) if run.stats else {}
        for q in ALL_QUERIES:
            qs = [sp for sp in self.tracer.spans if sp.name == f"query.{q}"]
            if qs:
                values[f"query.{q}.s"] = _med(sp.seconds for sp in qs)
                values[f"query.{q}.shuffle_bytes"] = _med(
                    sp.stats.get("shuffle_bytes", 0) for sp in qs)
        values["session.start_s"] = run.session_start_s
        values["session.peak_rss_mb"] = peak_rss_mib
        return {name: (values.get(name, 0), unit) for name, unit in PER_LAYER.items()}

    def _crawl_layers(self, run) -> dict:
        from twawler_spark.plans.round import bloom_prefix

        rounds = self._round_spans()
        stats = {st.round: st for st in run.stats}
        measured = sorted(r for r in rounds if r in stats)

        def per_round(fn, only=None):
            return _med(fn(*rounds[r]) for r in measured if only is None or only(r))

        def spans_sum(names, key=None):
            def f(sp, kids):
                sel = [c for _, c in kids if c.name in names]
                return sum((c.stats.get(key, 0) if key else c.seconds) for c in sel)
            return f

        def phase_s(phase):
            return per_round(lambda sp, kids: sum(c.seconds for p, c in kids if p == phase))

        def stat(field):
            return _med(getattr(stats[r], field) for r in measured)

        v = {}
        v["schedule.s"] = phase_s("schedule")
        v["schedule.shuffle_bytes"] = per_round(spans_sum(("checkpoint.plan",), "shuffle_bytes"))
        v["schedule.active_rows"] = stat("n_active")
        v["schedule.scheduled_rows"] = stat("n_scheduled")
        cap = sum(plan_cap(b) for b in run.budgets.values())
        plan_rows: dict[int, dict[str, int]] = {}
        for r, host, *_ in run.order:
            per_host = plan_rows.setdefault(r, {})
            per_host[host] = per_host.get(host, 0) + 1
        v["schedule.budget_use"] = _med(sum(plan_rows[r].values()) / cap for r in measured)
        v["schedule.host_skew"] = _med(
            max(plan_rows[r].values()) / sum(plan_rows[r].values()) for r in measured)
        v["fetcher.documents_s"] = per_round(spans_sum(
            ("build.fetch_documents", "catalog.append.documents")))
        v["fetcher.results_s"] = per_round(spans_sum(
            ("build.fetch_results", "checkpoint.results")))
        v["fetcher.discover_s"] = phase_s("discover")
        v["fetcher.docs"] = stat("n_docs")
        v["fetcher.candidates"] = stat("n_candidates")
        v["fetcher.python_s"] = per_round(spans_sum(
            ("catalog.append.documents", "checkpoint.results",
             "catalog.append.follow_edges", "checkpoint.candidates"), "python_s"))
        v["admission.s"] = per_round(spans_sum(("build.admit", "checkpoint.admitted")))
        v["admission.admitted_ratio"] = _med(
            stats[r].n_admitted / max(stats[r].n_candidates, 1) for r in measured)
        for op in ("load", "update", "save"):
            v[f"seen_filter.{op}_s"] = per_round(spans_sum((f"seen_filter.{op}",)))
        v["seen_filter.rebuilds"] = sum(
            1 for sp in self.tracer.spans
            if sp.name == "seen_filter.build" and sp.round is not None)
        last = max(stats)
        bits = bloom_prefix(run.catalog, last) + ".bits"
        v["seen_filter.bytes"] = os.path.getsize(bits) if os.path.exists(bits) else 0
        fpr, useful = self._bloom_counters(run.catalog, measured)
        v["seen_filter.observed_fpr"] = fpr
        v["seen_filter.confirm_useful_ratio"] = useful
        for t in APPEND_TABLES:
            v[f"catalog.append_s.{t}"] = per_round(spans_sum((f"catalog.append.{t}",)))
        v["catalog.compact_s"] = per_round(
            spans_sum(("catalog.snapshot.frontier", "build.expire_frontier_history")),
            only=lambda r: r % COMPACT_EVERY == 0)
        v["catalog.commit_s"] = per_round(spans_sum(
            ("catalog.commit.seen", "catalog.commit.frontier")))
        v["catalog.bytes_written"] = _med(self.written[r][0] for r in measured)
        v["catalog.files_written"] = _med(self.written[r][1] for r in measured)
        live = stats[last].n_frontier + stats[last].n_seen
        v["catalog.bytes_per_live_row"] = sum(sz for sz, _ in _files(self.root).values()) / live
        v["trace.round_s"] = _med(rounds[r][0].seconds for r in measured if r % COMPACT_EVERY)
        v["trace.compact_round_s"] = _med(
            rounds[r][0].seconds for r in measured if r % COMPACT_EVERY == 0)
        v["trace.coverage"] = per_round(
            lambda sp, kids: sum(c.seconds for _, c in kids) / sp.seconds)
        for phase, share in self.phase_shares().items():
            v[f"trace.share.{phase}"] = share
        return v

    def dump(self, path: str) -> None:
        """Write every span, with its self time (duration minus the part
        its child spans cover)."""
        child_s: dict[int, float] = {}
        for sp in self.tracer.spans:
            if sp.parent is not None:
                child_s[sp.parent] = child_s.get(sp.parent, 0.0) + sp.seconds
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([{**vars(sp), "self_s": sp.seconds - child_s.get(sp.id, 0.0)}
                       for sp in self.tracer.spans], f)
