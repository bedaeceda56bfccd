"""Structured-Streaming expression of the crawl's incremental semantics
(SURVEY.md §2.8): the reference is a long-running incremental loop with
rate limiting and late/dirty-data tolerance; here the same concepts run as
real streams for deployments that feed pages continuously instead of in
batch waves.

- stream_extract: readStream over a pages directory -> the same Arrow UDF
  extraction as the batch path -> sink (micro-batch ≙ crawl wave,
  foreachBatch-compatible).
- stream_wave_metrics: windowed per-host counters with a watermark (late
  fetches tolerated up to the watermark horizon; ST4).
- stateful_politeness: applyInPandasWithState — per-host state carries the
  last simulated fetch time so each micro-batch schedules fetches at least
  `delay_ms` apart, resuming from state across batches (ST1/ST3 as true
  streaming state).
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from webscraper_spark.functions.extract_pandas import with_extraction_arrow
from webscraper_spark.operators.backoff import THROTTLE_STATUSES
from webscraper_spark.schemas import PAGES


def stream_extract(spark: SparkSession, pages_dir: str) -> DataFrame:
    """Streaming extraction: each new parquet file of pages becomes a
    micro-batch through the crawl's extraction UDF
    (`with_extraction_arrow`)."""
    src = spark.readStream.schema(PAGES).parquet(pages_dir)
    ex = with_extraction_arrow(src)
    return ex.select("url", "warc_ts", "lang", "x_status", "x_title", "x_price_cell", "x_outlinks")


def stream_wave_metrics(spark: SparkSession, pages_dir: str, window: str = "10 minutes") -> DataFrame:
    """Watermarked windowed counters per (window, lang): the streaming form
    of the per-wave metrics table."""
    src = spark.readStream.schema(PAGES).parquet(pages_dir)
    return (
        src.withWatermark("warc_ts", "30 minutes")
        .groupBy(F.window("warc_ts", window), "lang")
        .agg(F.count("*").alias("n_pages"), F.sum(F.length("html")).alias("bytes"))
    )


_POLITE_OUT_SCHEMA = "host string, url string, sched_ms long"
_POLITE_STATE_SCHEMA = "last_ms long"


def _polite_fn(key: tuple, pdfs: Any, state: GroupState):
    """Per-host scheduler: space fetches >= delay_ms apart, carrying the
    last scheduled time across micro-batches in GroupState."""
    (host,) = key
    last_ms = state.get[0] if state.exists else -10_000_000
    rows = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["depth", "disc_pos", "url"])
        for r in pdf.itertuples(index=False):
            sched = max(last_ms + int(r.delay_ms), int(r.arrival_ms))
            last_ms = sched
            rows.append((host, r.url, sched))
    state.update((last_ms,))
    yield pd.DataFrame(rows, columns=["host", "url", "sched_ms"])


def stateful_politeness(candidates: DataFrame) -> DataFrame:
    """candidates: streaming DF (host, url, depth, disc_pos, delay_ms,
    arrival_ms) -> (host, url, sched_ms) with per-host spacing preserved
    across micro-batches via GroupState."""
    return (
        candidates.groupBy("host")
        .applyInPandasWithState(
            _polite_fn,
            outputStructType=_POLITE_OUT_SCHEMA,
            stateStructType=_POLITE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_BACKOFF_OUT_SCHEMA = "host string, wave long, throttle_streak int, delay_ms long"
_BACKOFF_STATE_SCHEMA = "streak int, last_wave long"


def stream_adaptive_backoff(
    outcomes: DataFrame,
    base_delay_ms: int = 100,
    err_num: int = 1,
    err_den: int = 10,
    max_shift: int = 6,
) -> DataFrame:
    """Streaming form of operators/backoff.adaptive_backoff (ST8 as true
    streaming state): outcomes is a streaming DF (host, wave, status);
    output one row per (host, wave) with the running throttle streak and
    the shifted delay, the streak carried across micro-batches in
    GroupState. The parameters mean what they mean in adaptive_backoff.

    Semantics vs the batch operator: identical when each host's waves are
    consecutive and each wave arrives whole in one micro-batch (the crawl
    loop's shape — a wave IS the micro-batch). The batch form infers the
    streak from (latest_wave - last_clean) over the whole history; the
    streaming form folds it forward, which is what bounded state allows —
    per-host state is the streak and the last folded wave however long the
    stream runs. A micro-batch that carries a wave at or before a host's
    last folded wave raises ValueError: folding it again would count it
    twice."""

    def backoff_fn(key: tuple, pdfs: Any, state: GroupState):
        """Per-host AIMD fold: each wave in the micro-batch either extends
        the throttle streak (throttle statuses >= err_num/err_den of the
        wave) or resets it to 0; the streak survives micro-batch boundaries
        in GroupState.

        `pdfs` is an iterator of Arrow CHUNKS of the host's batch data — one
        wave can span chunks, so the chunks are concatenated before the fold
        (a per-chunk fold double-counted split waves)."""
        (host,) = key
        streak, last_wave = state.get if state.exists else (0, None)
        pdf = pd.concat(list(pdfs), ignore_index=True)
        rows = []
        for wave, grp in sorted(pdf.groupby("wave")):
            if last_wave is not None and wave <= last_wave:
                raise ValueError(
                    f"stream_adaptive_backoff: host {host!r} sent wave {wave} "
                    f"after wave {last_wave} was already folded"
                )
            last_wave = int(wave)
            n = len(grp)
            n_thr = int(grp["status"].isin(THROTTLE_STATUSES).sum())
            streak = streak + 1 if n_thr * err_den >= n * err_num else 0
            rows.append((host, int(wave), streak, base_delay_ms << min(streak, max_shift)))
        state.update((streak, last_wave))
        yield pd.DataFrame(rows, columns=["host", "wave", "throttle_streak", "delay_ms"])

    return (
        outcomes.groupBy("host")
        .applyInPandasWithState(
            backoff_fn,
            outputStructType=_BACKOFF_OUT_SCHEMA,
            stateStructType=_BACKOFF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_stream_to_memory(df: DataFrame, name: str) -> None:
    """Drive a streaming DF to completion over the currently-available input
    (batch-like smoke harness for tests)."""
    q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def run_agg_stream_to_memory(df: DataFrame, name: str) -> None:
    q = df.writeStream.outputMode("complete").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def stream_seen_dedup(
    candidates: DataFrame, within: str = "1 hour", ts_col: str = "warc_ts"
) -> DataFrame:
    """Streaming URL-seen filter: first sighting of each canonical URL
    hash passes, duplicates within the watermark horizon are dropped.

    The batch engine's seen-set is a bucketed anti-join against an
    accumulated table (operators/seen.py); the streaming form is
    `dropDuplicatesWithinWatermark` on the canonical url hash — state
    stays bounded because the watermark ages out keys (an unbounded
    `dropDuplicates` would hold every URL ever seen in the state store;
    at 10^10 URLs that is the difference between a working stream and
    an OOM). Candidates need (url, warc_ts); the key is
    url_hash(canonicalize_url(url)), the same key the batch seen-set
    carries, so a URL dedups identically whichever engine sees it first.

    Late arrivals past the horizon CAN re-emit a url (the documented
    watermark trade-off; the downstream Iceberg MERGE is idempotent on
    url_hash, which is the standard exactly-once pattern).
    """
    from webscraper_spark.functions.canon import canonicalize_url, url_hash

    keyed = candidates.withColumn("url_hash", url_hash(canonicalize_url(F.col("url"))))
    return keyed.withWatermark(ts_col, within).dropDuplicatesWithinWatermark(["url_hash"])
