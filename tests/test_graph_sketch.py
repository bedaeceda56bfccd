"""Tests for redirect-chain resolution (operators/redirects.py, SURVEY
2.10 L40)."""

from __future__ import annotations


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
