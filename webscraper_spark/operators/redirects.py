"""Redirect-chain resolution by pointer jumping (doubling).

A crawl frontier at 10^10-URL scale carries a large redirect map (3xx
responses: src URL -> target URL). Scheduling and dedup want every URL
collapsed to its FINAL destination — chains (a->b->c) and cycles
(a->b->a, login loops) both occur in real crawls (the reference app
follows redirects implicitly inside Selenium page loads,
/root/reference/app/controllers/car_dealers_controller.rb:156; at scale
the resolution must be a set-oriented job, not a per-URL loop).

Naive resolution is an O(max_hops) sequence of joins — 16 sequential
shuffles for a 16-hop cap. Pointer jumping halves the chain length per
round (the classic PRAM list-ranking trick):
after round k every src points 2^(k+1) hops ahead (or at its terminal),
so a `max_hops` cap costs ceil(log2(max_hops)) self-joins. Each round is
one equi-join keyed on the current target — AQE handles the skew of many
chains converging on one popular destination.

Exactness: hops accumulates the TRUE chain length (a src already at its
terminal joins nothing and keeps its count), so resolved rows report the
exact number of 3xx hops. Rows still pointing at a redirecting node
after the final round have followed > max_hops edges — a cycle or an
over-long chain — and are labeled 'cycle'; their dst is the
deterministic f^(2^rounds)(src), bit-reproducible by an engine unrolling
the same rounds (the oracle replays each round as one CTE).

Determinism: duplicate src rows (two recorded redirects for one URL —
e.g. http->https recorded twice with different targets) are collapsed to
the lexicographically smallest dst BEFORE resolution, so the fixpoint is
unique regardless of input order or partitioning.

Every round's result is persisted and the previous handle released:
lineage stays linear in the round count (without this the plan doubles
per round and the final action re-runs the whole doubling cascade).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_redirects(edges: DataFrame, max_hops: int = 16) -> DataFrame:
    """Resolve (src, dst) redirect edges to (src, final, hops, status).

    status = 'resolved' (final is a non-redirecting URL, hops = exact
    chain length <= max_hops) or 'cycle' (the chain exceeds max_hops
    edges — a loop or a pathologically long chain; final is the node
    2^ceil(log2(max_hops+1)) hops along, deterministic).

    The returned DataFrame carries a `_redir_cache` persist handle (the
    final doubling round stays MEMORY_AND_DISK so downstream actions
    don't replay the cascade) — call `out._redir_cache.unpersist()`
    when done, the repo-wide `*_cache` convention that bench's noop
    writer and the tests release automatically. The handle lives only
    on the returned object, not on DataFrames derived from it.
    """
    from pyspark import StorageLevel

    if max_hops < 1:
        raise ValueError("resolve_redirects: max_hops must be >= 1")
    rounds = max(1, math.ceil(math.log2(max_hops + 1)))

    m = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("dst"))
        .select("src", "dst", F.lit(1).cast("long").alias("hops"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    for _ in range(rounds):
        a, b = m.alias("a"), m.alias("b")
        nxt = (
            a.join(b, F.col("a.dst") == F.col("b.src"), "left")
            .select(
                F.col("a.src").alias("src"),
                F.coalesce(F.col("b.dst"), F.col("a.dst")).alias("dst"),
                F.when(
                    F.col("b.src").isNotNull(), F.col("a.hops") + F.col("b.hops")
                )
                .otherwise(F.col("a.hops"))
                .alias("hops"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        nxt.count()  # materialize before dropping the parent handle
        m.unpersist()
        m = nxt

    # List-ranking invariant: after k rounds hops = min(true_dist, 2^k),
    # so hops > max_hops alone identifies every unresolved chain (a node
    # still mid-chain after all rounds has hops = 2^rounds > max_hops) —
    # no membership join against the src set is needed.
    out = m.select(
        "src",
        F.col("dst").alias("final"),
        "hops",
        F.when(F.col("hops") > max_hops, F.lit("cycle"))
        .otherwise(F.lit("resolved"))
        .alias("status"),
    )
    out._redir_cache = m  # release handle for the final round's persist
    return out
