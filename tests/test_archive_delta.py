"""Tests for the CDX capture index (operators/cdx.py, SURVEY 2.1 S13),
anchor-text aggregation (operators/graph.py anchor_profile, 2.10 L32),
crawl snapshot delta (operators/delta.py, L33) and recrawl priority
(operators/freshness.py)."""

from __future__ import annotations

import hashlib
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from webscraper_spark.operators.cdx import build_cdx_index, surt_key
from webscraper_spark.operators.delta import delta_summary, snapshot_delta
from webscraper_spark.operators.graph import anchor_profile
from webscraper_spark.sources.warc import build_warc, read_warc


# ---------------------------------------------------------------- CDX / SURT

SURT_CASES = [
    # (url, expected urlkey) — each exercises one documented SURT rule
    ("https://www.Example.com:8080/A/b?z=1&a=2#frag", "com,example:8080)/a/b?a=2&z=1"),
    ("http://sub.Example.ORG/Path", "org,example,sub)/path"),
    ("https://example.com", "com,example)/"),
    ("https://example.com?b=2&a=1", "com,example)/?a=1&b=2"),
    ("https://www.example.com/#top", "com,example)/"),
    ("http://a.b.c.example.net:99/x?q=1", "net,example,c,b,a:99)/x?q=1"),
]


def test_surt_key_rules(spark):
    df = spark.createDataFrame([(u,) for u, _ in SURT_CASES], "url string")
    got = [r["k"] for r in df.select(surt_key("url").alias("k")).collect()]
    assert got == [k for _, k in SURT_CASES]


def test_cdx_index_roundtrip_sorted_and_digested(spark):
    pages = [
        ("https://www.B.com/2?y=2&x=1", "2026-01-02T03:04:05Z", b"payload-two", 0),
        ("https://a.com/1", "2026-01-01T00:00:00Z", b"payload-one", 0),
        ("https://a.com/1", "2026-01-03T00:00:00Z", b"payload-one-v2", 1),
    ]
    df = spark.createDataFrame(pages, "url string, warc_date string, payload binary, fid long")
    idx = build_cdx_index(read_warc(build_warc(df, file_key=F.col("fid")))).collect()
    keys = [(r["urlkey"], r["timestamp"], r["warc_file_id"], r["rec_pos"]) for r in idx]
    assert keys == sorted(keys)  # the binary-searchable-file contract
    by_url = {(r["url"], r["timestamp"]): r for r in idx}
    assert len(by_url) == 3
    r = by_url[("https://a.com/1", "20260101000000")]
    assert r["urlkey"] == "com,a)/1"
    assert r["digest"] == hashlib.md5(b"payload-one").hexdigest()
    assert r["length"] == len(b"payload-one")
    # CDXJ line embeds its own key + locator
    assert r["cdxj"].startswith("com,a)/1 20260101000000 {")
    assert '"digest": "%s"' % r["digest"] in r["cdxj"]
    # same url captured twice sorts by timestamp under one urlkey
    ts = [k[1] for k in keys if k[0] == "com,a)/1"]
    assert ts == ["20260101000000", "20260103000000"]


# ---------------------------------------------------------------- anchors


def test_anchor_profile_topk_and_counts(spark):
    edges = (
        [(i, 100, "home") for i in range(5)]
        + [(i, 100, "click here") for i in range(3)]
        + [(0, 100, "blog"), (1, 100, "archive")]
        + [(7, 200, "solo")]
    )
    df = spark.createDataFrame(edges, "src long, dst long, anchor string")
    got = {r["dst"]: r for r in anchor_profile(df, k=3).collect()}
    assert got[100]["inlinks"] == 10
    assert got[100]["n_anchors"] == 4
    # count desc, anchor asc tiebreak: home(5), click here(3), archive|blog tie -> archive
    assert got[100]["top_anchors"] == "home|click here|archive"
    assert got[200]["inlinks"] == 1 and got[200]["top_anchors"] == "solo"


def test_anchor_profile_matches_python_oracle(spark):
    rows = list(range(200))
    edges = [(d, d % 17, ["a", "b", "c"][d % 3]) for d in rows] + [
        (d, (d * 7) % 17, ["a", "b"][d % 2]) for d in rows
    ]
    df = spark.createDataFrame(edges, "src long, dst long, anchor string")
    got = {r["dst"]: r for r in anchor_profile(df, k=2).collect()}

    cnt = Counter((dst, a) for _, dst, a in edges)
    per_dst = defaultdict(list)
    for (dst, a), c in cnt.items():
        per_dst[dst].append((-c, a))
    for dst, lst in per_dst.items():
        lst.sort()
        assert got[dst]["inlinks"] == sum(-c for c, _ in lst)
        assert got[dst]["n_anchors"] == len(lst)
        assert got[dst]["top_anchors"] == "|".join(a for _, a in lst[:2])


# ---------------------------------------------------------------- delta


def test_snapshot_delta_verdicts(spark):
    prev = spark.createDataFrame(
        [("u1", 10), ("u2", 20), ("u3", 30)], "url string, fp long"
    )
    curr = spark.createDataFrame(
        [("u1", 10), ("u2", 99), ("u4", 40)], "url string, fp long"
    )
    got = {r["url"]: r for r in snapshot_delta(prev, curr).collect()}
    assert got["u1"]["verdict"] == "unchanged"
    assert got["u2"]["verdict"] == "changed" and got["u2"]["fp_prev"] == 20
    assert got["u3"]["verdict"] == "removed" and got["u3"]["fp_curr"] is None
    assert got["u4"]["verdict"] == "added" and got["u4"]["fp_prev"] is None
    summ = {
        (r["host"], r["verdict"]): r["n_urls"]
        for r in delta_summary(
            snapshot_delta(prev, curr).withColumn("host", F.lit("h")), host_col="host"
        ).collect()
    }
    assert summ == {("h", "unchanged"): 1, ("h", "changed"): 1, ("h", "removed"): 1, ("h", "added"): 1}


# ---------------------------------------------------------------- recrawl priority

def test_recrawl_priority_orders_by_change_rate_times_staleness(spark):
    """Hot-and-stale pages outrank cold or freshly-fetched ones within a
    host shard; 'now' is the corpus max ts, never the wall clock."""
    import datetime as dt

    from webscraper_spark.operators.freshness import recrawl_priority

    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)
    rows = []
    # page 10: changes every observed day, last seen day 5 (stale 5d at now=day 10)
    for d in range(6):
        rows.append((10, t0 + d * day, "purchase"))
    # page 20: never changes, same span
    for d in range(6):
        rows.append((20, t0 + d * day, "view"))
    # page 30: changes often but fetched at 'now' (staleness 0)
    for d in range(11):
        rows.append((30, t0 + d * day, "error"))
    df = spark.createDataFrame(rows, "page_id long, ts timestamp, event_type string")
    got = {r.page_id: r for r in recrawl_priority(df).collect()}
    assert got[10].host_rank == 1 and got[10].priority > 0
    assert got[20].priority == 0.0 and got[30].staleness_days == 0.0
    assert got[10].n_changes == 6 and got[20].n_changes == 0
    # all three pages share host 0 (ids % 10 == 0): ranks are 1,2,3
    assert sorted(r.host_rank for r in got.values()) == [1, 2, 3]
