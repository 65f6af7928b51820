"""Seeded input generators: the program receives only these tables.

``write_crawl_inputs`` writes the four tables ``python -m twawler_spark
gen`` writes (frontier_seed, seen_seed, host_budget, robots) with the
same columns and the same distributions as ``twawler_spark.synth``:
log-uniform host popularity, 92% active rows, 20% of URLs already in a
seed set, per-host budgets of 2..31 and a deny rule on a quarter of the
hosts. ``synth`` keys every value on the row id alone, so it has no
seed; here a numpy generator seeded with the workload seed draws them.
The URL ids are 0..n-1, as in ``synth``, so each deny rule's
``/p/<digit>`` prefix blocks about 11% of its host's URLs whatever the
seed (digit 0: the one URL ``/p/0``). Shares, host sizes and the budget total are the same for every
seed (stratified draws, shuffled): seeds change which URL lands on which
host, which hosts are denied and which rows start active or seen.

``write_query_tables`` writes the three tables the benchmark's registry
queries read (events, documents, lineitem), one parquet file each, with
the schema and distributions of the repository's synthetic test data
(TESTDATA.md).

Both write with pyarrow, not Spark, so generation costs no Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from twawler_spark.hashing import to_signed64, xxh64_str
from twawler_spark.synth import NOW_EPOCH

_STATES = np.array(["active", "ignored", "dead", "suspended", "protected"])
_STATE_P = [0.92, 0.02, 0.02, 0.02, 0.02]


def _write(root: str, name: str, table: pa.Table) -> None:
    os.makedirs(f"{root}/{name}", exist_ok=True)
    pq.write_table(table, f"{root}/{name}/part-00000.parquet")


def _spread(rng, n: int) -> np.ndarray:
    """n stratified uniforms in [0, 1), shuffled: every seed gets the
    same distribution and sizes, only the assignment changes."""
    return rng.permutation((np.arange(n) + rng.random(n)) / n)


def _exact(rng, values, shares, n: int) -> np.ndarray:
    """n values with exactly the given shares, shuffled."""
    counts = np.floor(np.asarray(shares) * n).astype(int)
    counts[0] += n - counts.sum()
    return rng.permutation(np.repeat(np.asarray(values), counts))


def write_crawl_inputs(root: str, n_urls: int, n_hosts: int, seed: int) -> None:
    rng = np.random.default_rng(seed)
    ids = np.arange(n_urls, dtype=np.int64)
    # log-uniform host popularity: floor(H**u) - 1 in [0, H-1]
    host_id = np.minimum(
        n_hosts - 1, np.floor(np.power(float(n_hosts), _spread(rng, n_urls))) - 1
    ).astype(np.int64)
    hosts = np.char.add(np.char.add("h", host_id.astype(str)), ".example.com")
    paths = np.char.add("/p/", ids.astype(str))
    urls = np.char.add(np.char.add("https://", hosts), paths)
    url_hash = np.array([to_signed64(xxh64_str(u)) for u in urls.tolist()], dtype=np.int64)
    hours_idle = 1.0 + 200.0 * rng.random(n_urls)
    latest = NOW_EPOCH - (hours_idle * 3600).astype(np.int64)
    ts = pa.timestamp("us", tz="UTC")
    frontier = pa.table({
        "host": pa.array(hosts),
        "state": pa.array(_exact(rng, _STATES, _STATE_P, n_urls)),
        "state_round": pa.array(np.zeros(n_urls, dtype=np.int32)),
        "last_id": rng.integers(0, 1 << 40, n_urls),
        "first_id": rng.integers(0, 1 << 20, n_urls),
        "reached": pa.array(_exact(rng, [True, False], [0.3, 0.7], n_urls)),
        "latest_ts": pa.array(latest * 1_000_000, type=ts),
        "earliest_ts": pa.array((latest - 86400 * 30) * 1_000_000, type=ts),
        "rate_tph": 0.05 + 50.0 * np.power(rng.random(n_urls), 3.0),
        "discovered_round": pa.array(np.zeros(n_urls, dtype=np.int32)),
        "url": pa.array(urls),
        "url_hash": url_hash,
        "path": pa.array(paths),
    })
    _write(root, "frontier_seed", frontier)

    seen_set = _exact(rng, ["", "fetched", "ignored"], [0.8, 0.1, 0.1], n_urls)
    in_seen = seen_set != ""
    n_seen = int(in_seen.sum())
    _write(root, "seen_seed", pa.table({
        "url_hash": url_hash[in_seen],
        "set_name": pa.array(seen_set[in_seen]),
        "added_round": pa.array(np.zeros(n_seen, dtype=np.int32)),
    }))

    all_hosts = np.char.add(
        np.char.add("h", np.arange(n_hosts).astype(str)), ".example.com"
    )
    _write(root, "host_budget", pa.table({
        "host": pa.array(all_hosts),
        # budgets 2..31, spread evenly over the hosts in a seeded order
        "budget_per_round": pa.array(
            rng.permutation(2 + np.arange(n_hosts) * 30 // n_hosts).astype(np.int32)),
        "min_delay_s": pa.array(rng.integers(1, 11, n_hosts).astype(np.int32)),
    }))
    deny = _exact(rng, [False, True], [0.75, 0.25], n_hosts)
    n_deny = int(deny.sum())
    _write(root, "robots", pa.table({
        "host": pa.array(all_hosts[deny]),
        "rule": pa.array(np.full(n_deny, "deny")),
        "path_prefix": pa.array(np.char.add("/p/", rng.integers(0, 10, n_deny).astype(str))),
    }))


_VOCAB = (
    "batch part spark line column order small sort fast value scan slow a "
    "hash group agg filter query big key window join scale table row plan "
    "shuffle cache disk merge read"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_ETYPES = ["view", "click", "purchase", "signup", "error"]


def write_query_tables(out_dir: str, sf: float, seed: int) -> None:
    """events (1M*sf rows), documents (50k*sf), lineitem (6M*sf)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_events, n_users = int(1_000_000 * sf), int(15_000 * sf)
    n_docs, n_li, n_orders = int(50_000 * sf), int(6_000_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)

    def put(name, table):
        pq.write_table(table, f"{out_dir}/{name}.parquet")

    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 1_000_000, n_events))
    put("events", pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events),
        "event_type": pa.array(np.array(_ETYPES)[rng.integers(0, 5, n_events)]),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": pa.array(np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)), "}"
        )),
    }))

    nw = rng.integers(10, 101, n_docs)
    words = np.array(_VOCAB)[rng.integers(0, len(_VOCAB), int(nw.sum()))]
    bounds = np.concatenate(([0], np.cumsum(nw)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    put("documents", pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.array(_LANGS)[
            rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])
        ]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n_docs).astype(str))),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }))

    day = 86400 * 1_000_000
    d0 = np.datetime64("1995-01-01T00:00:00", "us").astype("int64")
    put("lineitem", pa.table({
        "l_orderkey": np.sort(rng.integers(0, n_orders, n_li)),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(d0 + rng.integers(0, 2500, n_li) * day,
                               type=pa.timestamp("us")),
    }))
