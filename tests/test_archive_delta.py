"""Tests for the CDX capture index (operators/cdx.py, SURVEY 2.1 S13)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from webscraper_spark.operators.cdx import build_cdx_index, surt_key
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
