"""Priority scheduling: per-host FIFO rank, budget gating, simulated clock.

Re-expresses the reference's implicit crawl order — ads processed in DOM
order within a page, pages ascending, one host at a time
(/root/reference/app/controllers/cars_controller.rb:140-150) — as an explicit
deterministic window rank (SURVEY.md W1-W4). Politeness (ST1) becomes a
*simulated clock column*: sched_ms = wave_start + (rank-1) * delay_ms, so the
politeness invariant (no two fetches of a host closer than delay) is testable
without wall-clock sleeps; a real fetcher would replay this schedule.

Ordering key per host: (depth ASC, disc_wave ASC, disc_pos ASC, url ASC) —
total and deterministic, never partition-order dependent.

Scale note: the window sorts each host's candidates; per-host candidate
counts are bounded by discovery rate, and hot hosts are exactly the rows the
budget cap truncates, so the sort input per host stays modest even at 10^10
frontier scale. The frontier itself is never globally sorted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webscraper_spark.operators.robots import DEFAULT_DELAY_MS, DEFAULT_MAX_PAGES, robots_blocked

WAVE_EPOCH_MS = 10_000_000  # simulated ms between wave starts


def rank_candidates(cand: DataFrame) -> DataFrame:
    w = Window.partitionBy("host").orderBy(
        F.col("depth").asc(), F.col("disc_wave").asc(), F.col("disc_pos").asc(), F.col("url").asc()
    )
    return cand.withColumn("rank", F.row_number().over(w))


def schedule_ranked(
    cand: DataFrame, policy: DataFrame, wave: int, defaults: tuple[int, int] | None = None
) -> DataFrame:
    """Robots filter + rank + budget gate + simulated clock in ONE relation,
    over ONE broadcast join of the host-policy table (host,
    disallow_prefixes, max_pages, delay_ms) from resolve_budgets or
    resolve_host_policy. in_budget marks the fetch batch; over-budget rows
    keep their discovery metadata and stay in the frontier. One output ->
    one materialization per wave.

    defaults: the politeness '*' (max_pages, delay_ms), applied as literals
    to hosts absent from the table (discovered mid-crawl, after the policy
    was resolved). When omitted they are read from the table's '*' row —
    one small job, so the crawl passes them in."""
    if defaults is None:
        star = policy.filter(F.col("host") == "*").groupBy().agg(F.min("max_pages"), F.min("delay_ms")).first()
        defaults = (
            DEFAULT_MAX_PAGES if star[0] is None else star[0],
            DEFAULT_DELAY_MS if star[1] is None else star[1],
        )
    max_pages, delay_ms = defaults
    rules = policy.filter(F.col("host") != "*")
    allowed = (
        cand.join(F.broadcast(rules), "host", "left")
        .filter(~robots_blocked(F.col("url"), F.col("disallow_prefixes")))
        .drop("disallow_prefixes")
    )
    ranked = (
        rank_candidates(allowed)
        .withColumn("max_pages", F.coalesce(F.col("max_pages"), F.lit(max_pages)))
        .withColumn("delay_ms", F.coalesce(F.col("delay_ms"), F.lit(delay_ms)))
    )
    return ranked.withColumn("in_budget", F.col("rank") <= F.col("max_pages")).withColumn(
        "sched_ms",
        F.when(
            F.col("in_budget"),
            F.lit(wave).cast("long") * WAVE_EPOCH_MS + (F.col("rank") - 1).cast("long") * F.col("delay_ms"),
        ),
    )
