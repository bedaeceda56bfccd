"""Tests for adaptive AIMD backoff (operators/backoff.py, SURVEY 2.10
L46/ST7)."""

from __future__ import annotations


def _outcomes(spark, rows):
    return spark.createDataFrame(rows, "host string, wave long, status string")


def test_backoff_streaks_and_delays(spark):
    from webscraper_spark.operators.backoff import adaptive_backoff

    rows = (
        # host A: wave 1 clean, waves 2-4 throttled -> streak 3 -> 100<<3
        [("A", 1, "ok"), ("A", 2, "429"), ("A", 3, "503"), ("A", 4, "timeout")]
        # host B: all clean -> streak 0 -> base
        + [("B", w, "ok") for w in (1, 2, 3, 4)]
        # host C: throttled then recovered (latest clean) -> streak 0
        + [("C", 1, "429"), ("C", 2, "429"), ("C", 3, "ok")]
        # host D: every wave throttled -> streak = n_waves
        + [("D", 1, "429"), ("D", 2, "429")]
    )
    got = {
        r["host"]: (r["throttle_streak"], r["delay_ms"])
        for r in adaptive_backoff(_outcomes(spark, rows)).collect()
    }
    assert got["A"] == (3, 800)
    assert got["B"] == (0, 100)
    assert got["C"] == (0, 100)
    assert got["D"] == (2, 400)


def test_backoff_error_rate_threshold_and_cap(spark):
    from webscraper_spark.operators.backoff import adaptive_backoff

    # wave 1 on host E: 10 fetches, exactly 1 throttle = 10% -> throttled (>=)
    # wave 1 on host F: 20 fetches, 1 throttle = 5% -> clean
    rows = (
        [("E", 1, "429")] + [("E", 1, "ok")] * 9
        + [("F", 1, "timeout")] + [("F", 1, "ok")] * 19
        # host G: 10 straight throttled waves -> shift capped at 6
        + [("G", w, "503") for w in range(1, 11)]
    )
    got = {
        r["host"]: (r["throttle_streak"], r["delay_ms"])
        for r in adaptive_backoff(_outcomes(spark, rows)).collect()
    }
    assert got["E"] == (1, 200)
    assert got["F"] == (0, 100)
    assert got["G"] == (10, 100 << 6)  # streak reported raw, shift capped

