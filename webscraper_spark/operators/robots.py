"""Robots.txt rule enforcement (ST6) and the per-host crawl policy (ST1).

The reference ignores robots entirely (its site served a placeholder,
/root/reference/public/robots.txt:1) and rate-limits with hard-coded sleeps
(car_dealers_controller.rb:156 `sleep(1)`); north_rule adds real robots
enforcement + per-host delays. Both live in ONE host-keyed policy table
(host, disallow_prefixes, max_pages, delay_ms): the rules tables are tiny
relative to the frontier, so a crawl collects them (one small scan each)
and resolves the table once, in plain Python on the driver, with no Spark
plan; each wave joins it once, as a broadcast, before ranking.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import url_path

# Politeness when the politeness table carries no '*' row at all.
DEFAULT_MAX_PAGES = 40
DEFAULT_DELAY_MS = 1000

POLICY_SCHEMA = pa.schema([
    ("host", pa.string()),
    ("disallow_prefixes", pa.list_(pa.string())),
    ("max_pages", pa.int64()),
    ("delay_ms", pa.int64()),
])


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


def _resolve(hosts: list[str], robots: list[Row], politeness: list[Row]) -> tuple[list[tuple], tuple[int, int]]:
    """The policy rules on collected rows: (host, disallow_prefixes,
    max_pages, delay_ms) for each named host, and the '*' defaults
    (max_pages, delay_ms). Raises ValueError when robots or politeness has
    more than one row for a named host."""
    dups = sorted({h for rows in (robots, politeness)
                   for h, n in Counter(r.host for r in rows if r.host not in ("*", None)).items() if n > 1})
    if dups:
        raise ValueError(f"more than one robots or politeness row for host(s): {', '.join(dups)}")
    rules = {r.host: r for r in robots}
    overrides = {r.host: r for r in politeness if r.host != "*"}
    star = [r for r in politeness if r.host == "*"]
    d_max = min((r.max_pages_per_wave for r in star if r.max_pages_per_wave is not None), default=DEFAULT_MAX_PAGES)
    d_delay = min((r.min_delay_ms for r in star if r.min_delay_ms is not None), default=DEFAULT_DELAY_MS)
    out = []
    for h in sorted(set(hosts) - {"*", None}):
        r, o = rules.get(h), overrides.get(h)
        o_max, o_delay = (o.max_pages_per_wave, o.min_delay_ms) if o else (None, None)
        r_disallow, r_delay = (r.disallow_prefixes, r.crawl_delay_ms) if r else (None, None)
        out.append((
            h,
            r_disallow,
            d_max if o_max is None else o_max,
            max(d_delay if o_delay is None else o_delay, r_delay or 0),
        ))
    return out, (d_max, max(d_delay, 0))


def _collect(robots: DataFrame, politeness: DataFrame) -> tuple[list[Row], list[Row]]:
    return (
        robots.select("host", "disallow_prefixes", "crawl_delay_ms").collect(),
        politeness.select("host", "max_pages_per_wave", "min_delay_ms").collect(),
    )


def _policy_frame(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """A driver-local relation: its broadcast runs no Spark job."""
    return spark.createDataFrame(pa.Table.from_pylist([dict(zip(POLICY_SCHEMA.names, r)) for r in rows],
                                                      schema=POLICY_SCHEMA))


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
    rows, (d_max, d_delay) = _resolve([r.host for r in hosts.select("host").collect()], *_collect(robots, politeness))
    return _policy_frame(politeness.sparkSession, [*rows, ("*", None, d_max, d_delay)])


def resolve_host_policy(robots: DataFrame, politeness: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """The crawl's host policy, resolved once per crawl on the driver.

    Collects the two input tables (one small scan each) and applies
    resolve_budgets' rules to every host they name. Returns (table,
    (default_max_pages, default_delay_ms)): the table is a driver-local
    relation (its broadcast runs no Spark job), and the '*' defaults come
    back as plain values for schedule_ranked to apply as literals.

    Raises ValueError when robots or politeness has more than one row for a
    host: the policy join would give that host one policy row per pair of
    its rows, and every candidate of the host would be scheduled once per
    row. Duplicate '*' rows are allowed and collapse to their minimum."""
    robots_rows, politeness_rows = _collect(robots, politeness)
    rows, defaults = _resolve([r.host for r in robots_rows + politeness_rows], robots_rows, politeness_rows)
    return _policy_frame(politeness.sparkSession, rows), defaults
