"""Auditable cardinality sketch: HyperLogLog with integer-exact registers.

Counting distinct URLs/documents at 10^10 scale with an exact
`countDistinct` costs a full shuffle of every key; an HLL sketch costs a
map-side-combinable max over a fixed register table (Flajolet et al.,
2007). Spark's built-in `approx_count_distinct` is HLL++ but its register
layout is engine-private — an independent SQL engine can't reproduce the
number, so it can't be driven through the correctness gate. This sketch
uses the repo's auditable h60 hash (dedup.py:29) and keeps every
aggregation in exact integer arithmetic so DuckDB replays it bit-for-bit:

- bucket  = top `p` bits of the 60-bit hash
- rho     = leading-zero count of the remaining (60-p) bits + 1
- register[bucket] = max(rho)           (map-side-combinable)
- sum_int = sum over all 2^p buckets of 2^((60-p+1) - register)
            (empty bucket -> register 0 -> 2^(60-p+1));
            every term is an exact power of two and the sum is a BIGINT,
            so it is order-independent — the floating-point harmonic mean
            sum of textbook HLL is NOT, which is the whole trick here.
- estimate_raw = alpha_m * m^2 * 2^(60-p+1) / sum_int
            (two correctly-rounded IEEE ops on exact operands)

The small-range linear-counting correction (m * ln(m/V)) is intentionally
NOT applied inside the operator: ln() differs in the last ulp across
engines. The exact ingredients (n_zero_buckets, sum_int) are emitted so a
caller can apply it driver-side in one line; estimate_raw itself is the
bias-uncorrected HLL estimator.

Output is one row: (m, sum_int, n_zero_buckets, estimate_raw) — the whole
point is that the "result" is register-table-sized, not data-sized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import h60


def _alpha(m: int) -> float:
    # Standard HLL alpha_m for m >= 128 (Flajolet et al. 2007, fig. 3).
    return 0.7213 / (1.0 + 1.079 / m)


def hll_distinct(df: DataFrame, col: Column, p: int = 10) -> DataFrame:
    """HLL distinct-count sketch of `col` with 2^p registers (p=10 ->
    1024 registers, standard error ~1.04/sqrt(1024) ~ 3.3%)."""
    if not (4 <= p <= 20):
        raise ValueError("hll_distinct: p must be in [4, 20]")
    return _hll_from_hash(df.select(h60(col).alias("h")), p)


def _hll_from_hash(hashed: DataFrame, p: int) -> DataFrame:
    m = 1 << p
    rem_bits = 60 - p
    alpha = _alpha(m)
    two_pow = 1 << (rem_bits + 1)  # register 0 (empty) term
    regs = (
        hashed.select(
            F.expr(f"h div {1 << rem_bits}").alias("bucket"),
            F.expr(f"h % {1 << rem_bits}").alias("rem"),
        )
        .select(
            "bucket",
            # rho = leading zeros of the rem_bits-wide field + 1
            #     = rem_bits - bit_length(rem) + 1;  rem=0 -> rem_bits + 1
            F.when(F.col("rem") == 0, F.lit(rem_bits + 1))
            .otherwise(F.lit(rem_bits + 1) - F.length(F.bin(F.col("rem"))))
            .cast("long")
            .alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("register"))
    )
    agg = regs.agg(
        F.count("*").alias("n_filled"),
        F.sum(F.expr(f"cast(pow(2, {rem_bits + 1} - register) as long)")).alias("sum_filled"),
    )
    return agg.select(
        F.lit(m).cast("long").alias("m"),
        (F.col("sum_filled") + (F.lit(m) - F.col("n_filled")) * F.lit(two_pow))
        .cast("long")
        .alias("sum_int"),
        (F.lit(m) - F.col("n_filled")).cast("long").alias("n_zero_buckets"),
    ).select(
        "m",
        "sum_int",
        "n_zero_buckets",
        (
            F.lit(alpha * m * m * float(two_pow)) / F.col("sum_int").cast("double")
        ).alias("estimate_raw"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

def _cms_cells(col: Column, d: int, w: int) -> Column:
    """Exploded (row, bucket) cells for one item — the ONE definition of
    the CMS cell hashing, shared by sketch build and point query (a
    drifted copy would silently break sketch/query agreement and make
    every estimate wrong)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(r).cast("int").alias("row"),
                    (h60(F.concat(F.lit(f"cms{r}:"), col)) % w).alias("bucket"),
                )
                for r in range(d)
            ]
        )
    )


def cms_sketch(df: DataFrame, col: Column, d: int = 4, w: int = 1024) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan, 2005) of the `col`
    stream: d hash rows x w buckets of exact BIGINT counters.

    One pass over the data: each record explodes into its d (row, bucket)
    cells and a map-side-combinable count collapses them to at most d*w
    rows — the sketch size is FIXED regardless of stream length, which is
    the whole point at 10^10-URL scale (a per-host exact count would
    shuffle every distinct host; the sketch shuffles d*w counters).

    Like hll_distinct, the registers are exact integers keyed by the
    repo's auditable h60 hash (row r uses h60('cms{r}:' || item)), so an
    independent engine rebuilds the identical counter table — Spark's own
    count_min_sketch() aggregate emits an opaque binary blob an oracle
    cannot replay.
    """
    if d < 1 or w < 2:
        raise ValueError("cms_sketch: need d >= 1, w >= 2")
    cells = df.select(_cms_cells(col, d, w).alias("rb"))
    return cells.groupBy(
        F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket")
    ).agg(F.count("*").alias("cnt"))


def cms_topk(
    df: DataFrame,
    col: Column,
    candidates: DataFrame | None = None,
    d: int = 4,
    w: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Top-k heavy hitters of the `col` stream by count-min estimate.

    `candidates` is the item universe to point-query (one string column
    named `item`).

    **Pass `candidates` at corpus scale.** The `candidates=None` default
    falls back to `df.select(col).distinct()` — a full shuffle of the
    stream's distinct values, i.e. exactly the cost the sketch exists to
    avoid. The default is only sound in the heavy-hitter regime where
    item cardinality (hosts) is orders of magnitude below stream length
    (URLs) so the distinct is cheap relative to the scan. At 10^10-URL
    scale, hand the scheduler's existing host table (or any bounded
    candidate list) in: the sketch is d*w rows and broadcast, so the plan
    then contains NO stream-sized shuffle at all
    (tests/test_plan_shapes.py pins this).

    Estimate = min over the d rows (classic CMS point query). Like every
    CMS estimate it is upper-biased by collisions: a candidate absent
    from the stream must not VANISH from the output — its cells may
    still collide with populated buckets, so it estimates at most the
    collision noise of its least-loaded cell (0 only when some cell is
    untouched; the coalesce(0) covers those fully-empty buckets, which a
    left join would otherwise return as NULL). Ties at the k boundary
    break by item ASC — deterministic in any engine.
    """
    sketch = cms_sketch(df, col, d=d, w=w)
    if candidates is None:
        candidates = df.select(col.alias("item")).distinct()
    cand_cells = candidates.select(
        "item", _cms_cells(F.col("item"), d, w).alias("rb")
    ).select("item", F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
    est = (
        cand_cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy("item")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est"))
    )
    return est.orderBy(F.col("est").desc(), F.col("item")).limit(k)
