"""URL canonicalization: engine (JVM expressions) vs oracle (pure Python),
plus idempotence over every URL in the corpus (SURVEY.md §5.2 property 4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraper_spark.functions.canon import canonicalize_url, url_host
from webscraper_spark.oracle.seq_oracle import canonicalize, host_of

CASES = [
    "https://dealer1.example/ad/42",
    "HTTPS://DEALER9.EXAMPLE:443/inventory?sort=date&page=0#ses",
    "http://Host.Example:80",
    "http://host.example:8080/x",   # non-default port kept
    "https://a.example/p?b=2&a=1&a=0#frag",
    "https://a.example/p?",
    "https://a.example",
    "not a url at all",
    "",
    "ftp://Files.Example:21/pub",
]


def test_engine_matches_oracle_on_cases(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "url string")
    got = [r.c for r in df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    want = [canonicalize(c) for c in CASES]
    assert got == want


def test_host_matches_oracle(spark):
    df = spark.createDataFrame([(c,) for c in CASES], "url string")
    got = [r.h for r in df.select(url_host(F.col("url")).alias("h")).collect()]
    want = [host_of(c) for c in CASES]
    assert got == want


def test_idempotent_on_corpus(spark, corpus_dir):
    pages = spark.read.parquet(corpus_dir["pages"])
    once = pages.select(canonicalize_url(F.col("url")).alias("c1"))
    twice = once.select(F.col("c1"), canonicalize_url(F.col("c1")).alias("c2"))
    assert twice.filter(F.col("c1") != F.col("c2")).count() == 0


def test_corpus_urls_already_canonical(spark, corpus_dir):
    pages = spark.read.parquet(corpus_dir["pages"])
    assert pages.filter(canonicalize_url(F.col("url")) != F.col("url")).count() == 0


def test_arrow_engine_matches_native(spark, corpus_dir):
    """_canonicalize_py (the canonicalizer inside the Arrow extraction UDF)
    must equal canonicalize_url on every outlink in the corpus plus the edge
    cases."""
    from webscraper_spark.functions.canon import _canonicalize_py
    from webscraper_spark.functions.extract_pandas import with_extraction_arrow

    pages = spark.read.parquet(corpus_dir["pages"])
    links = with_extraction_arrow(pages).select(F.explode("x_outlinks").alias("raw"))
    edge = spark.createDataFrame([(c,) for c in CASES], "raw string")
    rows = links.unionByName(edge).select("raw", canonicalize_url(F.col("raw")).alias("n_url")).collect()
    assert len(rows) > len(CASES)
    bad = [r for r in rows if (None if r.raw is None else _canonicalize_py(r.raw)) != r.n_url]
    assert not bad, bad[:5]
