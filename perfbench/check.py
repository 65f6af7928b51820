"""Output checks, run outside the timed regions.

Crawl: the Spark run's crawl order and final seen set must equal the
sequential simulator's (``reference_sim.run``) on the same inputs, and
no host may get more plan rows in a round than its budget plus its late
budget. The simulator's answer is cached under the work directory,
keyed by a digest of the input files and the round count.

Queries: each registry query's rows must equal its DuckDB
``oracle_sql()`` rows, compared order-insensitively with floats
rounded to nine significant digits: ``rows_key`` of the repository's
oracle checker, ``scripts/check_oracles.py``.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from scripts.check_oracles import rows_key
from twawler_spark import reference_sim

CRAWL_INPUTS = ("frontier_seed", "seen_seed", "host_budget", "robots")


def _digest(items) -> str:
    h = hashlib.sha256()
    for it in sorted(items):
        h.update(repr(it).encode())
    return h.hexdigest()


def _inputs_digest(root: str, n_rounds: int, n_hosts: int) -> str:
    h = hashlib.sha256(f"{n_rounds}:{n_hosts}".encode())
    for name in CRAWL_INPUTS:
        for f in sorted(os.listdir(f"{root}/{name}")):
            with open(f"{root}/{name}/{f}", "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def expected_crawl(root: str, n_rounds: int, n_hosts: int, cache_dir: str) -> dict:
    """Digests of the simulator's crawl order and seen set."""
    key = _inputs_digest(root, n_rounds, n_hosts)
    path = f"{cache_dir}/crawl-{key}.json"
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    sim = reference_sim.run(root, n_rounds, n_hosts)
    out = {
        "crawl_order": _digest(sim.crawl_order),
        "n_crawl_order": len(sim.crawl_order),
        "seen": _digest(sim.seen),
        "n_seen": len(sim.seen),
    }
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, path)
    return out


def crawl_problems(
    order: list[tuple], seen: set[int], budgets: dict[str, int],
    expected: dict,
) -> list[str]:
    """``order``: (round, host, phase, fetch_rank, url_hash) rows."""
    problems = []
    if len(order) != expected["n_crawl_order"] or _digest(order) != expected["crawl_order"]:
        problems.append(
            f"crawl_order differs from reference_sim "
            f"({len(order)} vs {expected['n_crawl_order']} rows)"
        )
    if len(seen) != expected["n_seen"] or _digest(seen) != expected["seen"]:
        problems.append(
            f"seen set differs from reference_sim ({len(seen)} vs {expected['n_seen']} keys)"
        )
    per_host: dict[tuple[int, str], int] = {}
    for r, host, *_ in order:
        per_host[(r, host)] = per_host.get((r, host), 0) + 1
    for (r, host), n in per_host.items():
        cap = plan_cap(budgets.get(host))
        if n > cap:
            problems.append(f"round {r}: host {host} got {n} plan rows > cap {cap}")
    return problems


def plan_cap(budget: int | None) -> int:
    """Largest plan share of one host: budget plus late budget (the
    engine's defaults, 4 and 2, when the host has no budget row)."""
    if budget is None:
        return 4 + 2
    return budget + max(budget // 2, 1)


class Oracle:
    """DuckDB views over one query-table directory."""

    def __init__(self, sf_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def problems(self, sql: str, cols: list[str], rows: list[tuple]) -> list[str]:
        rel = self.con.sql(sql)
        dcols = list(rel.columns)
        drows = rel.fetchall()
        if len(rows) != len(drows):
            return [f"rowcount {len(rows)} vs oracle {len(drows)}"]
        if sorted(cols) != sorted(dcols):
            return [f"columns {sorted(cols)} vs oracle {sorted(dcols)}"]
        if rows_key(cols, rows) != rows_key(dcols, drows):
            return ["values differ from oracle"]
        return []

    def close(self) -> None:
        self.con.close()
