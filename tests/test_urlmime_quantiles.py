"""Tests for URL-quality filtering (operators/urlfilter.py, SURVEY 2.10
L35) and MIME sniffing/routing (operators/mime.py, 2.1 S14)."""

from __future__ import annotations

from webscraper_spark.operators.mime import route_by_mime, sniff_mime
from webscraper_spark.operators.urlfilter import url_filter


# ---------------------------------------------------------------- urlfilter

URL_CASES = [
    ("https://ok.example.com/cat/item-5?page=3", "keep"),
    ("https://ok.example.com/go-casino-now", "drop:blocklist"),
    ("https://ok.example.com" + "/s" * 9 + "/leaf", "drop:depth"),  # depth 10
    ("https://ok.example.com/p?a=1&b=2&c=3&d=4&e=5&f=6&g=7", "drop:params"),
    ("https://ok.example.com/p/123456", "drop:digits"),
    ("https://ok.example.com/p/ab1", "keep"),  # slug under 4 chars exempt
    ("https://ok.example.com/item?id=9&utm_campaign=x", "keep:strip_tracking"),
    ("https://ok.example.com/", "keep"),
    # blocklist beats depth: keyword inside a too-deep path
    ("https://ok.example.com/a/b/c/d/e/f/g/h/i/viagra", "drop:blocklist"),
]


def test_url_filter_verdicts(spark):
    df = spark.createDataFrame([(u,) for u, _ in URL_CASES], "url string")
    got = {r["url"]: r["verdict"] for r in url_filter(df).collect()}
    for u, want in URL_CASES:
        assert got[u] == want, (u, got[u], want)


def test_url_filter_features(spark):
    df = spark.createDataFrame(
        [("https://h.example.com/a/b/item-77?x=1&y=2&utm_source=z",)], "url string"
    )
    r = url_filter(df).collect()[0]
    assert r["depth"] == 3
    assert r["n_params"] == 3
    assert r["slug_len"] == 7 and r["slug_digits"] == 2
    assert r["has_tracking"] and not r["blocked_kw"]
    assert r["verdict"] == "keep:strip_tracking"


# ---------------------------------------------------------------- mime

MIME_CASES = [
    (b"\xff\xd8\xff\xe0JFIF....", "image/jpeg", "multimodal"),
    (b"\x89PNG\r\n\x1a\n....", "image/png", "multimodal"),
    (b"GIF89a....", "image/gif", "multimodal"),
    (b"%PDF-1.7 blah", "application/pdf", "archive"),
    (b"PK\x03\x04zipzip", "application/zip", "archive"),
    (b"\x1f\x8b\x08gz", "application/gzip", "archive"),
    (b"<!doctype html><p>x</p>", "text/html", "extract"),
    (b"   \t\n<html><body>y", "text/html", "extract"),
    (b"just some text", "application/octet-stream", "quarantine"),
    (b"", "application/octet-stream", "quarantine"),
    # invalid UTF-8 must not throw (ANSI decode is why sniffing is hex-only)
    (b"\xfe\xfd\x80garbage", "application/octet-stream", "quarantine"),
]


def test_sniff_and_route(spark):
    df = spark.createDataFrame(
        [(i, p) for i, (p, _, _) in enumerate(MIME_CASES)], "i long, payload binary"
    )
    got = {r["i"]: (r["mime"], r["lane"]) for r in route_by_mime(df).collect()}
    for i, (_, mime, lane) in enumerate(MIME_CASES):
        assert got[i] == (mime, lane), (i, got[i], (mime, lane))


def test_sniff_mime_is_prefix_only(spark):
    # magic bytes later in the payload must not trigger
    df = spark.createDataFrame([(b"text with \xff\xd8\xff inside",)], "payload binary")
    assert df.select(sniff_mime("payload").alias("m")).collect()[0]["m"] == (
        "application/octet-stream"
    )
