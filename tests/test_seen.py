"""Seen-set operator: the exact anti-join (J1/ST2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraper_spark.operators.seen import anti_join_seen


def test_anti_join_with_bloom_equals_exact(spark):
    """candidates minus seen keeps exactly the candidates whose url is unseen."""
    cand = spark.range(0, 3000).select(
        F.concat(F.lit("https://h"), F.pmod("id", F.lit(7)), F.lit(".example/p/"), "id").alias("url"),
        F.concat(F.lit("h"), F.pmod("id", F.lit(7))).alias("host"),
        F.lit(1).alias("depth"),
        F.lit(0).alias("disc_wave"),
        F.col("id").alias("disc_pos"),
    )
    seen = spark.range(0, 3000, 3).select(
        F.xxhash64(F.concat(F.lit("https://h"), F.pmod("id", F.lit(7)), F.lit(".example/p/"), "id")).alias("url_hash"),
        F.concat(F.lit("https://h"), F.pmod("id", F.lit(7)), F.lit(".example/p/"), "id").alias("url"),
        F.lit(0).alias("wave"),
    )
    exact = set(r.url for r in anti_join_seen(cand, seen).collect())
    assert len(exact) == 2000  # every id % 3 != 0
