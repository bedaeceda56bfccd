"""Crawl-budget apportionment: split a global page budget across hosts.

A wave scheduler has a global fetch budget (politeness-bounded cluster
throughput x wave duration) and must divide it across hosts in proportion
to a weight — host PageRank mass (operators/graph.py), freshness demand
(operators/freshness.py), or plain page counts. Proportional division of
an integer budget is the classic apportionment problem; this implements
Hamilton's largest-remainder method because it is exactly representable
in integer arithmetic end-to-end (floor quotas + ranked remainders), so
the result is bit-identical in any engine — same discipline as the
fixed-point PageRank (graph.py).

Algorithm: quota_i = budget * w_i / W (exact integer floor); the
leftover = budget - sum(floor quotas) seats go one each to the largest
remainders budget*w_i % W, ties broken by host for determinism.

Scale: one map-side-combinable sum for W (a scalar), one window rank over
the host-cardinality relation — hosts number ~10^7 at web scale, far
below data size; no corpus-sized shuffle anywhere. Hosts with weight 0
get 0 (they never outrank a positive remainder... except when every
weight is 0 — guarded, budget stays unassigned rather than divided by
zero).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def apportion_budget(
    hosts: DataFrame,
    budget: int,
    host_col: str = "host",
    weight_col: str = "weight",
) -> DataFrame:
    """Largest-remainder split of `budget` over hosts by integer weight.

    Output: (host, weight, base_quota, extra, quota) with
    sum(quota) == budget exactly (when total weight > 0).
    Weights must be non-negative integers (cast enforced).
    """
    h = hosts.select(F.col(host_col).alias("host"), F.col(weight_col).cast("long").alias("weight"))
    total = h.agg(F.coalesce(F.sum("weight"), F.lit(0)).alias("w")).collect()[0]["w"]
    if total <= 0:
        return h.select(
            "host",
            "weight",
            F.lit(0).cast("long").alias("base_quota"),
            F.lit(0).cast("long").alias("extra"),
            F.lit(0).cast("long").alias("quota"),
        )
    scored = h.select(
        "host",
        "weight",
        F.expr(f"({int(budget)}L * weight) div {int(total)}L").alias("base_quota"),
        F.expr(f"({int(budget)}L * weight) % {int(total)}L").alias("rem"),
    )
    # leftover seats = budget - sum(base_quota); a second scalar aggregate
    leftover = int(budget) - scored.agg(F.sum("base_quota")).collect()[0][0]
    wr = Window.orderBy(F.desc("rem"), F.asc("host"))
    # NOTE: a global (un-partitioned) rank — correct here because the
    # relation is host-cardinality, and leftover < n_hosts by construction;
    # at 10^7 hosts this is one skewed-but-tiny window task, not a corpus sort.
    return (
        scored.withColumn("rr", F.row_number().over(wr))
        .select(
            "host",
            "weight",
            "base_quota",
            F.when(F.col("rr") <= F.lit(int(leftover)), F.lit(1)).otherwise(F.lit(0)).cast("long").alias("extra"),
        )
        .withColumn("quota", (F.col("base_quota") + F.col("extra")).cast("long"))
    )
