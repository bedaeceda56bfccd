"""Tests for fixed-point PageRank, HITS, degree capping and host-spam
scoring (operators/graph.py) and redirect resolution
(operators/redirects.py) — SURVEY 2.10."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from webscraper_spark.operators.graph import pagerank_fixed_point


def _py_pagerank(edges, n_iter=8, d_num=85, d_den=100, scale=10**12):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    deg = Counter(s for s, _ in edges)
    base = ((d_den - d_num) * scale // d_den) // n
    rank = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        c = defaultdict(int)
        for s, d in edges:
            c[d] += rank[s] // deg[s]
        rank = {v: base + (d_num * c.get(v, 0)) // d_den for v in nodes}
    return rank


def test_pagerank_matches_python_exactly(spark):
    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 0), (4, 4)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pagerank_fixed_point(df, n_iter=8)
    got = {r["node"]: r["rank"] for r in out.collect()}
    out._rank_cache.unpersist()
    out._nodes_cache.unpersist()
    assert got == _py_pagerank(edges)  # integer-exact, no tolerance


def test_pagerank_star_mass_concentrates(spark):
    # star into node 9: every node links to 9, 9 links back to 0. The 0<->9
    # 2-cycle oscillates, so assert the top-2 SET (order is parity-dependent)
    # and that all leaf nodes sit at the base-only rank.
    edges = [(i, 9) for i in range(9)] + [(9, 0)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = pagerank_fixed_point(df, n_iter=8)
    rows = sorted(out.collect(), key=lambda r: -r["rank"])
    out._rank_cache.unpersist()
    out._nodes_cache.unpersist()
    assert {rows[0]["node"], rows[1]["node"]} == {0, 9}
    leaf_ranks = {r["rank"] for r in rows[2:]}
    assert len(leaf_ranks) == 1  # all leaves identical
    assert max(leaf_ranks) < rows[1]["rank"]


def _h60_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------- HITS


def _py_hits(edges, n_iter=8, scale=10**6):
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    hub = {v: scale for v in nodes}
    auth = {}
    for _ in range(n_iter):
        raw_a = {}
        for s, d in edges:
            raw_a[d] = raw_a.get(d, 0) + hub[s]
        m = max(list(raw_a.values()) or [1]) or 1
        m = max(m, 1)
        auth = {v: (raw_a.get(v, 0) * scale) // m for v in nodes}
        raw_h = {}
        for s, d in edges:
            raw_h[s] = raw_h.get(s, 0) + auth[d]
        m = max(max(list(raw_h.values()) or [1]), 1)
        hub = {v: (raw_h.get(v, 0) * scale) // m for v in nodes}
    return {v: (hub[v], auth[v]) for v in nodes}


def test_hits_matches_python_exactly(spark):
    from webscraper_spark.operators.graph import hits_fixed_point

    edges = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 0), (4, 4), (5, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = hits_fixed_point(df, n_iter=8)
    got = {r["node"]: (r["hub"], r["auth"]) for r in out.collect()}
    for c in out._hits_caches:
        c.unpersist()
    assert got == _py_hits(edges)  # integer-exact, no tolerance


def test_hits_hub_vs_authority_separation(spark):
    from webscraper_spark.operators.graph import hits_fixed_point

    # bipartite-ish: 0..3 are pure hubs pointing at 8/9; 8/9 pure authorities
    edges = [(i, 8) for i in range(4)] + [(i, 9) for i in range(4)] + [(9, 8)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = hits_fixed_point(df, n_iter=8)
    got = {r["node"]: r for r in out.collect()}
    for c in out._hits_caches:
        c.unpersist()
    assert got[8]["auth"] == max(r["auth"] for r in got.values())
    top_hub = max(got.values(), key=lambda r: r["hub"])["node"]
    assert top_hub in range(4)
    assert got[8]["hub"] == 0  # node 8 has no outlinks
    for i in range(4):
        assert got[i]["auth"] == 0  # pure hubs are no authorities


def test_cap_degree_super_node(spark):
    from webscraper_spark.operators.graph import cap_degree

    edges = [(i, 0) for i in range(500)] + [(i, 1 + i % 3) for i in range(30)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = cap_degree(df, k=16).collect()
    by_dst = {}
    for r in out:
        by_dst.setdefault(r["dst"], set()).add(r["src"])
    assert len(by_dst[0]) == 16  # super-node capped
    for d in (1, 2, 3):
        assert len(by_dst[d]) == 10  # under-cap nodes untouched

    # hash-rank selection is deterministic: python-side replay
    kept = sorted(
        range(500), key=lambda s: (_h60_py(f"degcap:{s}>0"), s)
    )[:16]
    assert by_dst[0] == set(kept)


def test_cap_degree_parallelism_invariant(spark):
    from webscraper_spark.operators.graph import cap_degree

    edges = [(i, i % 7) for i in range(400)]
    a = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    b = spark.createDataFrame(edges, "src long, dst long").repartition(13)
    ra = {(r["src"], r["dst"]) for r in cap_degree(a, k=5).collect()}
    rb = {(r["src"], r["dst"]) for r in cap_degree(b, k=5).collect()}
    assert ra == rb  # layout-independent sample (hash rank, not "first k seen")


# --- redirect-chain resolution (operators/redirects.py, SURVEY 2.10 L40) ---

def _py_resolve(edges, max_hops):
    import math

    m = {}
    for s, d in edges:
        m[s] = min(m[s], d) if s in m else d
    rounds = max(1, math.ceil(math.log2(max_hops + 1)))
    state = {s: (d, 1) for s, d in m.items()}
    for _ in range(rounds):
        state = {
            s: (state[d][0], h + state[d][1]) if d in state else (d, h)
            for s, (d, h) in state.items()
        }
    return {
        s: (d, h, "cycle" if h > max_hops else "resolved")
        for s, (d, h) in state.items()
    }


def test_redirects_chain_cycle_dupsrc_exact(spark):
    from webscraper_spark.operators.redirects import resolve_redirects

    edges = [
        (1, 2), (2, 3), (3, 4),          # chain: dist 3/2/1 to terminal 4
        (10, 11), (11, 10),              # 2-cycle
        (20, 21), (20, 22), (21, 30),    # duplicate src -> min dst wins
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = resolve_redirects(df, max_hops=6)
    got = {r["src"]: (r["final"], r["hops"], r["status"]) for r in out.collect()}
    out._redir_cache.unpersist()
    assert got == _py_resolve(edges, 6)
    assert got[1] == (4, 3, "resolved")
    assert got[10][2] == "cycle" and got[11][2] == "cycle"
    assert got[20] == (30, 2, "resolved")  # via min(21, 22) = 21


def test_redirects_overcap_chain_and_invariance(spark):
    from webscraper_spark.operators.redirects import resolve_redirects

    edges = [(i, i + 1) for i in range(100, 110)]  # 10-hop chain
    a = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    b = spark.createDataFrame(edges, "src long, dst long").repartition(13)
    oa = resolve_redirects(a, max_hops=4)
    ob = resolve_redirects(b, max_hops=4)
    ga = {r["src"]: (r["final"], r["hops"], r["status"]) for r in oa.collect()}
    gb = {r["src"]: (r["final"], r["hops"], r["status"]) for r in ob.collect()}
    oa._redir_cache.unpersist()
    ob._redir_cache.unpersist()
    assert ga == gb == _py_resolve(edges, 4)
    assert ga[100][2] == "cycle"            # dist 10 > cap, hops clamped at 2^3
    assert ga[106] == (110, 4, "resolved")  # dist exactly at the cap
    assert ga[105][2] == "cycle"            # dist 5: resolved final, over cap


# --- link-farm host scoring (operators/graph.py, SURVEY 2.10 L43) ---

def test_host_spam_farm_vs_organic(spark):
    from webscraper_spark.operators.graph import host_spam_score

    farm = [(f"f{a}", f"f{b}") for a in range(5) for b in range(5) if a != b]
    organic = [("a", "b"), ("a", "c"), ("a", "d"), ("a", "e"), ("a", "f"),
               ("b", "a"),                       # one reciprocated out-link
               ("g", "a"), ("a", "a")]           # self-loop dropped
    df = spark.createDataFrame(farm + organic + farm[:3], "src string, dst string")
    got = {r["host"]: (r["out_deg"], r["in_deg"], r["recip_out"], r["is_farm"])
           for r in host_spam_score(df, min_out=4).collect()}
    for h in ("f0", "f1", "f2", "f3", "f4"):
        assert got[h] == (4, 4, 4, True)      # K5 ring: fully reciprocal
    assert got["a"] == (5, 2, 1, False)       # 1/5 reciprocal, under 3/4
    assert got["b"] == (1, 1, 1, False)       # out_deg below min_out
    assert got["g"] == (1, 0, 0, False)
    assert got["f"] == (0, 1, 0, False)       # sink host, no out-links


def test_host_spam_threshold_cross_multiplication(spark):
    from webscraper_spark.operators.graph import host_spam_score

    # host x: 4 out-links, 3 reciprocated -> exactly 3/4 -> flagged (>=)
    edges = [("x", "p"), ("x", "q"), ("x", "r"), ("x", "s"),
             ("p", "x"), ("q", "x"), ("r", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["host"]: r["is_farm"] for r in host_spam_score(df, min_out=4).collect()}
    assert got["x"] is True


def test_trustrank_flows_from_seeds_only(spark):
    """Trust teleports only to seeds: a page endorsed by the seed
    outranks a page endorsed by an equally-linked non-seed, and an
    isolated spam clique with no seed-reachable in-links gets only
    damped leakage (zero teleport mass)."""
    from webscraper_spark.operators.graph import trustrank_fixed_point

    # seed 0 -> 1; non-seed 2 -> 3; spam clique 4 <-> 5
    edges = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5), (5, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    out = trustrank_fixed_point(edges, seeds, n_iter=8)
    got = {r["node"]: r["rank"] for r in out.collect()}
    out._rank_cache.unpersist()
    out._nodes_cache.unpersist()
    assert got[0] > 0                      # seed keeps teleport mass
    assert got[1] > got[3]                 # seed-endorsed beats junk-endorsed
    assert got[3] == 0 and got[2] == 0     # no seed path -> zero trust
    assert got[4] == 0 and got[5] == 0     # spam clique self-links earn nothing
