"""Structured-Streaming surface: extraction stream, watermarked metrics,
stateful politeness across micro-batches."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from webscraper_spark.streaming.stream import (
    run_agg_stream_to_memory,
    run_stream_to_memory,
    stateful_politeness,
    stream_extract,
    stream_wave_metrics,
)


@pytest.fixture(scope="module")
def pages_stream_dir(spark, corpus_dir, tmp_path_factory):
    """Pages re-written as a small number of files (streaming source dir)."""
    d = str(tmp_path_factory.mktemp("pages_stream"))
    spark.read.parquet(corpus_dir["pages"]).repartition(4).write.mode("overwrite").parquet(d)
    return d


def test_stream_extract_matches_batch(spark, pages_stream_dir):
    run_stream_to_memory(stream_extract(spark, pages_stream_dir), "sx")
    got = spark.sql("SELECT count(*) n, sum(CASE WHEN x_status='ok' THEN 1 ELSE 0 END) ok FROM sx").first()
    batch = spark.read.parquet(pages_stream_dir)
    from webscraper_spark.functions.extract_pandas import with_extraction_arrow

    want_n = batch.count()
    want_ok = with_extraction_arrow(batch).filter(F.col("x_status") == "ok").count()
    assert got.n == want_n and got.ok == want_ok


def test_stream_metrics_watermarked(spark, pages_stream_dir):
    run_agg_stream_to_memory(stream_wave_metrics(spark, pages_stream_dir, "60 minutes"), "sm")
    rows = spark.sql("SELECT * FROM sm").collect()
    assert len(rows) > 0
    assert sum(r.n_pages for r in rows) == spark.read.parquet(pages_stream_dir).count()


def test_stateful_politeness_across_microbatches(spark, tmp_path_factory):
    """Two micro-batches of candidates for one host: batch 2's first fetch
    must still be >= delay after batch 1's last (state carries last_ms)."""
    d = str(tmp_path_factory.mktemp("cand_stream"))
    schema = "host string, url string, depth int, disc_pos long, delay_ms long, arrival_ms long"
    b1 = spark.createDataFrame(
        [("h.example", f"https://h.example/a{i}", 0, i, 1000, 0) for i in range(5)], schema
    )
    b1.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))

    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d + "/*")
    out = stateful_politeness(src)
    q = out.writeStream.outputMode("append").format("memory").queryName("pol").start()
    q.processAllAvailable()
    # second micro-batch arrives later
    b2 = spark.createDataFrame(
        [("h.example", f"https://h.example/b{i}", 1, i, 1000, 0) for i in range(3)], schema
    )
    b2.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b2"))
    q.processAllAvailable()
    q.stop()

    rows = sorted(spark.sql("SELECT * FROM pol").collect(), key=lambda r: r.sched_ms)
    assert len(rows) == 8
    gaps = [b.sched_ms - a.sched_ms for a, b in zip(rows, rows[1:])]
    assert all(g >= 1000 for g in gaps), gaps  # politeness invariant incl. across batches


def test_stream_seen_dedup_across_microbatches(spark, tmp_path_factory):
    """dropDuplicatesWithinWatermark URL-seen: duplicates and canonical
    variants of one URL collapse to a single emission even when they
    arrive in different micro-batches (files)."""
    import datetime as dt

    from webscraper_spark.streaming.stream import stream_seen_dedup

    d = str(tmp_path_factory.mktemp("seen_stream"))
    t0 = dt.datetime(2020, 9, 1, 12, 0, 0)
    batch1 = [
        ("https://a.ex/p?b=2&a=1", t0),
        ("https://a.ex/q", t0),
    ]
    # batch 2: same page as canonical variant (sorted params, fragment,
    # default port) + a true new URL
    batch2 = [
        ("https://A.EX:443/p?a=1&b=2#frag", t0 + dt.timedelta(minutes=1)),
        ("https://a.ex/r", t0 + dt.timedelta(minutes=1)),
    ]
    schema = "url string, warc_ts timestamp"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(d)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(d)

    src = spark.readStream.schema(schema).parquet(d)
    out = stream_seen_dedup(src, within="1 hour")
    q = (
        out.writeStream.outputMode("append").format("memory")
        .queryName("seen_dedup").option("maxFilesPerTrigger", 1).start()
    )
    q.processAllAvailable()
    q.stop()
    urls = sorted(r["url"] for r in spark.sql("SELECT url FROM seen_dedup").collect())
    # 4 input rows -> 3 distinct canonical urls; the /p variant deduped
    assert len(urls) == 3
    assert sum("/p" in u for u in urls) == 1


def test_stream_seen_key_is_batch_url_hash(spark, tmp_path_factory):
    """The stream keys on the batch seen set's url_hash, so a MERGE on
    url_hash matches rows across the two engines."""
    import datetime as dt

    from webscraper_spark.functions.canon import url_hash
    from webscraper_spark.streaming.stream import stream_seen_dedup

    url = "https://a.ex/p?a=1&b=2"  # already canonical
    d = str(tmp_path_factory.mktemp("seen_key_stream"))
    schema = "url string, warc_ts timestamp"
    spark.createDataFrame([(url, dt.datetime(2020, 9, 1))], schema).write.mode("append").parquet(d)
    q = (
        stream_seen_dedup(spark.readStream.schema(schema).parquet(d), within="1 hour")
        .writeStream.outputMode("append").format("memory").queryName("seen_key").start()
    )
    q.processAllAvailable()
    q.stop()
    got = [r["url_hash"] for r in spark.sql("SELECT url_hash FROM seen_key").collect()]
    want = spark.range(1).select(url_hash(F.lit(url)).alias("h")).first()["h"]
    assert got == [want]


def test_stream_adaptive_backoff_streak_across_microbatches(spark, tmp_path_factory):
    """AIMD streak survives the micro-batch boundary: host A ends batch 1
    with streak 1 (wave 1 throttled), batch 2's throttled wave 2 must
    continue it to 2 (delay 400), then a clean wave 3 resets to base.
    Host B stays clean throughout -> always streak 0 / 100ms."""
    from webscraper_spark.streaming.stream import stream_adaptive_backoff

    d = str(tmp_path_factory.mktemp("backoff_stream"))
    schema = "host string, wave long, status string"
    b1 = spark.createDataFrame(
        [("A", 0, "ok"), ("A", 0, "ok"),
         ("A", 1, "429"), ("A", 1, "429"), ("A", 1, "ok"),
         ("B", 0, "ok"), ("B", 1, "ok")],
        schema,
    )
    b1.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b1"))

    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d + "/*")
    out = stream_adaptive_backoff(src)
    q = out.writeStream.outputMode("append").format("memory").queryName("backoff").start()
    q.processAllAvailable()
    b2 = spark.createDataFrame(
        [("A", 2, "timeout"), ("A", 2, "503"),
         ("A", 3, "ok"), ("A", 3, "ok"),
         ("B", 2, "ok")],
        schema,
    )
    b2.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "b2"))
    q.processAllAvailable()
    q.stop()

    got = {(r.host, r.wave): (r.throttle_streak, r.delay_ms)
           for r in spark.sql("SELECT * FROM backoff").collect()}
    assert got[("A", 0)] == (0, 100)
    assert got[("A", 1)] == (1, 200)    # 2/3 throttled >= 10%
    assert got[("A", 2)] == (2, 400)    # streak carried across the batch boundary
    assert got[("A", 3)] == (0, 100)    # clean wave resets immediately
    assert all(got[("B", w)] == (0, 100) for w in (0, 1, 2))


def test_stream_adaptive_backoff_params_match_batch(spark, tmp_path_factory):
    """Non-default base delay, throttle ratio and shift cap reach the
    streaming fold: at each host's latest wave it gives the batch
    operator's (throttle_streak, delay_ms) for the same parameters. The
    defaults would give other values on every host: A's streak of 4 is
    capped at a shift of 2, and B's 1-in-3 throttle rate clears 1/10 but
    not 1/2."""
    from webscraper_spark.operators.backoff import adaptive_backoff
    from webscraper_spark.streaming.stream import stream_adaptive_backoff

    params = dict(base_delay_ms=50, err_num=1, err_den=2, max_shift=2)
    d = str(tmp_path_factory.mktemp("backoff_params"))
    schema = "host string, wave long, status string"
    b1 = (
        [("A", 0, "ok"), ("A", 0, "ok")]
        + [("A", w, s) for w in (1, 2) for s in ("429", "ok")]
        + [("B", w, s) for w in (0, 1, 2) for s in ("503", "ok", "ok")]
        + [("C", w, "timeout") for w in (0, 1) for _ in range(2)]
    )
    b2 = [("A", w, s) for w in (3, 4) for s in ("ok", "503")]
    for name, rows in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, name))

    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d + "/*")
    run_stream_to_memory(stream_adaptive_backoff(src, **params), "backoff_params")
    got = {(r.host, r.wave): (r.throttle_streak, r.delay_ms)
           for r in spark.sql("SELECT * FROM backoff_params").collect()}

    batch_src = spark.read.schema(schema).parquet(os.path.join(d, "b1"), os.path.join(d, "b2"))
    batch = adaptive_backoff(batch_src, **params).collect()
    want = {(r.host, r.latest_wave): (r.throttle_streak, r.delay_ms) for r in batch}
    assert want == {("A", 4): (4, 200), ("B", 2): (0, 50), ("C", 1): (2, 200)}
    assert {k: got[k] for k in want} == want


def test_stream_adaptive_backoff_rejects_out_of_order_wave(spark, tmp_path_factory):
    """A wave at or before a host's last folded wave would be counted twice
    into its streak: the fold raises, naming the host and both waves."""
    from pyspark.errors import StreamingQueryException

    from webscraper_spark.streaming.stream import stream_adaptive_backoff

    d = str(tmp_path_factory.mktemp("backoff_out_of_order"))
    schema = "host string, wave long, status string"
    batches = (("b1", [("A", 0, "ok"), ("A", 1, "429")]), ("b2", [("A", 1, "429")]))
    for name, rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, name))

    src = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d + "/*")
    out = stream_adaptive_backoff(src)
    q = out.writeStream.outputMode("append").format("memory").queryName("backoff_ooo").start()
    try:
        with pytest.raises(StreamingQueryException, match=r"host 'A' sent wave 1 after wave 1"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_stream_backoff_replay_removes_its_temp_dir(spark, tmp_path, monkeypatch):
    """The registry query stages its outcomes in a temp dir for readStream;
    once the memory sink holds the rows the dir is gone."""
    import tempfile

    import __spark_entry__ as entry

    sf_dir = tmp_path / "sf"
    spark.range(0, 240).withColumnRenamed("id", "event_id").write.parquet(str(sf_dir / "events.parquet"))
    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    rows = entry._q_stream_backoff_replay(spark, str(sf_dir)).collect()
    assert len(rows) == 6 * 4  # one row per (host, wave)
    assert not list(scratch.glob("ws_stream_backoff_*"))
