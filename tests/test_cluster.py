"""Repetition metrics (functions/text.py)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from webscraper_spark.functions.text import (
    dup_token_frac,
    ngrams_all,
    top_ngram_frac,
    top_token_frac,
)


def _py_metrics(text):
    toks = text.split()
    n = len(toks)
    grams = [" ".join(toks[i : i + 2]) for i in range(n - 1)] if n >= 2 else []
    def top_frac(xs):
        return max(Counter(xs).values()) / len(xs) if xs else 0.0
    return (
        round(top_frac(toks), 6),
        round((n - len(set(toks))) / n, 6) if n else 0.0,
        round(top_frac(grams), 6),
    )


def test_repetition_metrics_match_python(spark):
    texts = [
        "the cat sat on the mat the cat",
        "a a a a a a",
        "unique words only here",
        "x",
        "",
        "  spam spam spam ham  spam eggs spam  ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string")
    t = F.col("text")
    got = df.select(
        "doc_id",
        F.round(top_token_frac(t), 6).alias("tt"),
        F.round(dup_token_frac(t), 6).alias("dt"),
        F.round(top_ngram_frac(t, 2), 6).alias("tb"),
    ).collect()
    for r in got:
        exp = _py_metrics(texts[r["doc_id"]].strip())
        assert (r["tt"], r["dt"], r["tb"]) == exp, f"doc {r['doc_id']}: {(r['tt'], r['dt'], r['tb'])} != {exp}"


def test_ngrams_all_keeps_multiplicity(spark):
    df = spark.createDataFrame([("a b a b a",)], "text: string")
    [row] = df.select(ngrams_all(F.col("text"), 2).alias("g")).collect()
    assert row["g"] == ["a b", "b a", "a b", "b a"]
