"""Workload definitions. Why each was chosen, which layers it loads and
the phase shares a traced run measured are in WORKLOADS.md."""

from __future__ import annotations

from dataclasses import dataclass

from twawler_spark.plans.round import COMPACT_EVERY, REVIVE_TTL_ROUNDS

QUERY_TABLES = ("events", "documents", "lineitem")

# Every crawl run reaches the first compaction round and TTL revival.
MIN_ROUNDS = max(COMPACT_EVERY, REVIVE_TTL_ROUNDS)
# Timed passes over the query list, after one untimed warm-up pass;
# each query's time is its median.
MIN_PASSES = 5


@dataclass(frozen=True)
class Crawl:
    """Resumed ``run_round`` rounds over a generated frontier."""

    n_urls: int
    n_hosts: int


@dataclass(frozen=True)
class Queries:
    """Registry queries over generated tables, read-only."""

    sf: float
    names: tuple[str, ...]


WORKLOADS = {
    # Log-uniform host popularity over 50 hosts (200 URLs per host on
    # average): head hosts hold thousands of URLs and are capped by their
    # budgets (the scan, score and rank path), tail hosts hold fewer URLs
    # than their budget and are re-fetched every round, so re-discovered
    # outlinks drive the Bloom maybe-seen confirm path.
    "crawl": Crawl(n_urls=10_000, n_hosts=50),
    # One query from each group ROADMAP targets: the heaviest leaf, a
    # round-6 regression, a small-scan leaf hit by the split floor, a
    # MinHash kernel user and the engine-path crawl_round_docs.
    "queries": Queries(
        sf=0.02,
        names=("j8_synchrotrap", "ks_latency_drift", "frontier_shard_balance",
               "dedup_minhash_lsh", "crawl_round_docs"),
    ),
}

ALL_QUERIES = WORKLOADS["queries"].names
