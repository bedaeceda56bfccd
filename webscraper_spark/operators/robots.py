"""Robots.txt rule enforcement (ST6) and the per-host crawl policy (ST1).

The reference ignores robots entirely (its site served a placeholder,
/root/reference/public/robots.txt:1) and rate-limits with hard-coded sleeps
(car_dealers_controller.rb:156 `sleep(1)`); north_rule adds real robots
enforcement + per-host delays. Both live in ONE host-keyed policy table
(host, disallow_prefixes, max_pages, delay_ms): the rules tables are tiny
relative to the frontier, so a crawl resolves the table once on the driver
and each wave joins it once, as a broadcast, before ranking.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import url_path

# Politeness when the politeness table carries no '*' row at all.
DEFAULT_MAX_PAGES = 40
DEFAULT_DELAY_MS = 1000


def robots_blocked(url: Column, disallow: Column) -> Column:
    """True when the URL path starts with any disallow prefix (a null
    prefix list allows everything; Disallow '/' blocks the whole host)."""
    path = url_path(url)
    return F.exists(
        F.coalesce(disallow, F.array().cast("array<string>")),
        lambda p: F.startswith(path, p),
    )


def apply_robots(candidates: DataFrame, robots: DataFrame) -> DataFrame:
    """Drop candidates whose URL path matches any disallow prefix.

    candidates must carry `url` and `host`. Missing hosts in the rules table
    are allowed (no rules).
    """
    r = robots.select(
        F.col("host").alias("r_host"),
        F.col("disallow_prefixes").alias("r_disallow"),
    )
    joined = candidates.join(F.broadcast(r), candidates["host"] == r["r_host"], "left")
    return joined.filter(~robots_blocked(F.col("url"), F.col("r_disallow"))).drop("r_host", "r_disallow")


def resolve_budgets(hosts: DataFrame, robots: DataFrame, politeness: DataFrame) -> DataFrame:
    """Per-host policy: (host, disallow_prefixes, max_pages, delay_ms).

    delay = max(politeness min_delay [host override else '*' default],
                robots crawl_delay); budget = host override else default.

    The politeness '*' defaults are ALSO emitted as a literal host='*' row,
    so downstream consumers (schedule_ranked) can apply the same defaults to
    hosts discovered after this table was built — mid-crawl outlinks can
    surface hosts absent from `hosts`, and those must get the politeness
    defaults, not hardcoded fallbacks. Duplicate '*' rows collapse to their
    minimum; no '*' row at all means (DEFAULT_MAX_PAGES, DEFAULT_DELAY_MS).
    """
    default_row = politeness.filter(F.col("host") == "*").groupBy().agg(
        F.coalesce(F.min("max_pages_per_wave"), F.lit(DEFAULT_MAX_PAGES).cast("long")).alias("d_max"),
        F.coalesce(F.min("min_delay_ms"), F.lit(DEFAULT_DELAY_MS).cast("long")).alias("d_delay"),
    )
    overrides = politeness.filter(F.col("host") != "*").select(
        F.col("host").alias("o_host"),
        F.col("max_pages_per_wave").alias("o_max"),
        F.col("min_delay_ms").alias("o_delay"),
    )
    rd = robots.select(F.col("host").alias("rb_host"), "disallow_prefixes", "crawl_delay_ms")
    named = hosts.filter(F.col("host") != "*")
    out = (
        named.crossJoin(F.broadcast(default_row))
        .join(F.broadcast(overrides), named["host"] == overrides["o_host"], "left")
        .join(F.broadcast(rd), named["host"] == rd["rb_host"], "left")
        .select(
            "host",
            "disallow_prefixes",
            F.coalesce(F.col("o_max"), F.col("d_max")).alias("max_pages"),
            F.greatest(
                F.coalesce(F.col("o_delay"), F.col("d_delay")),
                F.coalesce(F.col("crawl_delay_ms"), F.lit(0)),
            ).alias("delay_ms"),
        )
    )
    star = default_row.select(
        F.lit("*").alias("host"),
        F.lit(None).cast("array<string>").alias("disallow_prefixes"),
        F.col("d_max").alias("max_pages"),
        F.greatest(F.col("d_delay"), F.lit(0)).alias("delay_ms"),
    )
    return out.unionByName(star)


def resolve_host_policy(robots: DataFrame, politeness: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """The crawl's host policy, resolved once per crawl on the driver.

    Returns (table, (default_max_pages, default_delay_ms)): the table holds
    every host named by robots or politeness and is a driver-local relation
    (its broadcast runs no Spark job), and the '*' defaults come back as
    plain values for schedule_ranked to apply as literals. A broadcast table
    passes through the driver anyway; collecting it once replaces a
    broadcast job per table per wave.

    Raises ValueError when robots or politeness has more than one row for a
    host: the joins would give that host one policy row per pair of its
    rows, and every candidate of the host would be scheduled once per row.
    Duplicate '*' rows are allowed and collapse to their minimum."""
    spark = politeness.sparkSession
    hosts = robots.select("host").unionByName(politeness.select("host")).distinct()
    policy = resolve_budgets(hosts, robots, politeness).toArrow()
    host_names = policy.column("host").to_pylist()
    dups = sorted(h for h, n in Counter(host_names).items() if n > 1)
    if dups:
        raise ValueError(f"more than one robots or politeness row for host(s): {', '.join(dups)}")
    star = host_names.index("*")
    defaults = (policy.column("max_pages")[star].as_py(), policy.column("delay_ms")[star].as_py())
    return spark.createDataFrame(policy.filter([h != "*" for h in host_names])), defaults
