"""Adaptive per-host crawl-rate backoff (AIMD) from fetch outcomes.

A politeness schedule with a FIXED per-host delay (operators/schedule.py,
ST1) is the contract floor; production crawlers additionally ADAPT the
rate to what the server signals: 429/503 responses and timeouts mean
back off multiplicatively, sustained success means creep back up —
the AIMD loop every large crawler runs (Heritrix's adaptive politeness,
Googlebot's published host-load behavior). The reference hardcodes
1-3s sleeps (/root/reference/app/controllers/cars_controller.rb:133,321;
car_dealers_controller.rb:156); at 10^10-URL scale the delay must be a
per-host COLUMN computed from the previous wave's outcome table, not a
constant.

Pure integer arithmetic so any engine replays it bit-for-bit:
- err_rate compare by cross-multiplication (n_err * den >= n * num)
- backoff_ms = base_delay_ms << min(n_consecutive_throttle_waves, cap)
  (exponential, capped — the shift count comes from how many of the
  host's most recent waves were throttled, computed with a window-free
  conditional aggregate over the wave outcomes)
- recovery: a clean latest wave resets the streak to 0, restoring
  base_delay_ms immediately (multiplicative increase on congestion,
  full restore on success — see the function docstring).

One map-side-combinable aggregate per host over (host, wave, status)
rows + a codegen CASE — no UDF, no join. The output has the shape of
schedule.py's min_delay_ms input, though the crawl does not feed it there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

THROTTLE_STATUSES = ("429", "503", "timeout")


def adaptive_backoff(
    outcomes: DataFrame,
    base_delay_ms: int = 100,
    err_num: int = 1,
    err_den: int = 10,
    max_shift: int = 6,
) -> DataFrame:
    """Per-host adaptive delay from (host, wave, status) fetch outcomes.

    A wave is "throttled" for a host when its throttle-status count
    clears err_num/err_den of that host's fetches in the wave (integer
    cross-multiplication). delay_ms = base_delay_ms << min(streak,
    max_shift), where streak = number of waves since the host's last
    clean wave (0 when the latest wave is clean, so recovery to base is
    immediate — multiplicative decrease on congestion, full restore on
    success; Heritrix uses the same shape). Wave ids are assumed
    consecutive where the host was fetched; a gap counts toward the
    streak, which escalates conservatively (a host absent from a wave
    was usually starved by its own backoff).

    Returns (host, n_waves, latest_wave, throttle_streak, delay_ms).
    The streak needs NO window function: it is latest_wave minus the
    greatest clean wave (or first_wave - 1 when every wave throttled),
    so the whole operator is two map-side-combinable aggregates and a
    codegen shift — no UDF, no join, no sort.
    """
    st = F.col("status")
    throttled_wave = (
        outcomes.groupBy("host", "wave")
        .agg(
            F.count("*").alias("n"),
            F.sum(st.isin(*THROTTLE_STATUSES).cast("long")).alias("n_thr"),
        )
        .select(
            "host",
            "wave",
            (F.col("n_thr") * err_den >= F.col("n") * err_num).alias("thr"),
        )
    )
    per_host = throttled_wave.groupBy("host").agg(
        F.count("*").alias("n_waves"),
        F.max("wave").alias("latest_wave"),
        F.min("wave").alias("first_wave"),
        # greatest CLEAN wave; null when every wave is throttled
        F.max(F.when(~F.col("thr"), F.col("wave"))).alias("last_clean"),
    )
    streak = (
        F.col("latest_wave")
        - F.coalesce(F.col("last_clean"), F.col("first_wave") - 1)
    ).cast("int")
    # F.shiftleft only takes a literal bit count; the column-shift lives
    # in SQL (still codegen).
    return per_host.select(
        "host",
        "n_waves",
        "latest_wave",
        streak.alias("throttle_streak"),
        F.least(streak, F.lit(max_shift)).alias("_shift"),
    ).selectExpr(
        "host",
        "n_waves",
        "latest_wave",
        "throttle_streak",
        f"shiftleft(cast({base_delay_ms} as bigint), _shift) as delay_ms",
    )
