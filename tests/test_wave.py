"""Engine-vs-oracle crawl parity: order, seen set, schedule, politeness
invariant, byte-identical per-url extraction, and checkpoint resume (ST5)."""

from __future__ import annotations

import glob
import json

import pytest
from pyspark.sql import functions as F

from webscraper_spark.oracle.seq_oracle import crawl_oracle
from webscraper_spark.plans import wave as wave_mod
from webscraper_spark.plans.wave import CrawlConfig, fetched_paths, run_crawl

MAX_WAVES = 6


@pytest.fixture(scope="module")
def inputs(spark, corpus_dir):
    pages = spark.read.parquet(corpus_dir["pages"])
    seeds = spark.read.parquet(corpus_dir["seeds"])
    robots = spark.read.parquet(corpus_dir["robots"])
    politeness = spark.read.parquet(corpus_dir["politeness"])
    return pages, seeds, robots, politeness


def _results(spark, paths):
    return spark.read.parquet(*fetched_paths(paths["ckpt_dir"], json.loads(paths["waves"])))


def _oracle(pages, seeds, robots, politeness, max_waves):
    pages_d = {r.url: (bytes(r.html).decode("utf-8") if r.html is not None else None) for r in
               pages.select("url", "html").collect()}
    seeds_l = [r.url for r in seeds.select("url").collect()]
    robots_d = {r.host: (list(r.disallow_prefixes), int(r.crawl_delay_ms)) for r in robots.collect()}
    pol_d = {r.host: (int(r.max_pages_per_wave), int(r.min_delay_ms)) for r in politeness.collect()}
    return crawl_oracle(pages_d, seeds_l, robots_d, pol_d, max_waves=max_waves)


@pytest.fixture(scope="module")
def oracle_result(inputs):
    return _oracle(*inputs, max_waves=MAX_WAVES)


@pytest.fixture(scope="module")
def engine_result(spark, inputs, tmp_path_factory):
    pages, seeds, robots, politeness = inputs
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    paths = run_crawl(spark, pages, seeds, robots, politeness, ckpt,
                      CrawlConfig(max_waves=MAX_WAVES))
    return spark, paths


def test_crawl_order_matches_oracle(engine_result, oracle_result):
    spark, paths = engine_result
    order_df = spark.read.parquet(paths["order"])
    got = {(r.url, r.host, r.wave, r.rank) for r in order_df.collect()}
    want = set(oracle_result[0])
    assert got == want
    assert len(got) == order_df.count()  # no dup fetches


def test_seen_set_matches_oracle(engine_result, oracle_result):
    spark, paths = engine_result
    seen_df = spark.read.parquet(paths["seen"])
    got = {r.url: r.wave for r in seen_df.collect()}
    assert got == oracle_result[1]


def test_schedule_matches_oracle(engine_result, oracle_result):
    spark, paths = engine_result
    order_df = spark.read.parquet(paths["order"])
    got = {r.url: r.sched_ms for r in order_df.collect()}
    assert got == oracle_result[2]


def test_politeness_invariant(engine_result, inputs):
    """No two fetches of one host within a wave closer than its delay."""
    spark, paths = engine_result
    _, _, robots, politeness = inputs
    order = spark.read.parquet(paths["order"])
    from webscraper_spark.operators.robots import resolve_budgets

    budgets = resolve_budgets(robots.select("host"), robots, politeness)
    from pyspark.sql import Window

    w = Window.partitionBy("host", "wave").orderBy("sched_ms")
    gaps = (
        order.join(budgets, "host")
        .withColumn("prev", F.lag("sched_ms").over(w))
        .filter(F.col("prev").isNotNull())
        .filter((F.col("sched_ms") - F.col("prev")) < F.col("delay_ms"))
    )
    assert gaps.count() == 0


def test_budget_respected(engine_result, inputs):
    spark, paths = engine_result
    _, _, robots, politeness = inputs
    from webscraper_spark.operators.robots import resolve_budgets

    budgets = resolve_budgets(robots.select("host"), robots, politeness)
    per = spark.read.parquet(paths["order"]).groupBy("host", "wave").count()
    over = per.join(budgets, "host").filter(F.col("count") > F.col("max_pages"))
    assert over.count() == 0


def test_robots_never_fetched(engine_result, inputs):
    spark, paths = engine_result
    _, _, robots, _ = inputs
    order = spark.read.parquet(paths["order"])
    blocked_hosts = robots.filter(F.array_contains("disallow_prefixes", "/")).select("host")
    assert order.join(blocked_hosts, "host").count() == 0
    private = order.filter(F.col("url").contains("/ad/private/")).join(
        robots.filter(F.array_contains("disallow_prefixes", "/ad/private/")).select("host"), "host"
    )
    assert private.count() == 0


def test_extracted_text_byte_identical_per_url(engine_result, inputs):
    """input_hint invariant over the crawled set: results.extracted_text ==
    pages.text for every fetched page with ground truth."""
    spark, paths = engine_result
    pages = inputs[0]
    res = _results(spark, paths).filter(F.col("fetch_status") == "ok")
    joined = res.select("url", "extracted_text").join(pages.select("url", "text"), "url")
    bad = joined.filter(~F.col("extracted_text").eqNullSafe(F.col("text")))
    assert bad.count() == 0


def test_fetched_paths_cover_the_results_glob(engine_result):
    """The listed wave dirs that entry() and these tests read are exactly
    the dirs the `results` glob matches."""
    _, paths = engine_result
    listed = fetched_paths(paths["ckpt_dir"], json.loads(paths["waves"]))
    assert listed and sorted(listed) == sorted(glob.glob(paths["results"]))


def test_resume_identical_to_straight_run(spark, inputs, oracle_result, tmp_path_factory):
    """Kill after wave 2, resume -> identical final order + seen (ST5)."""
    pages, seeds, robots, politeness = inputs
    ckpt = str(tmp_path_factory.mktemp("ckpt_resume"))
    run_crawl(spark, pages, seeds, robots, politeness, ckpt, CrawlConfig(max_waves=3))
    paths = run_crawl(spark, pages, seeds, robots, politeness, ckpt,
                      CrawlConfig(max_waves=MAX_WAVES), resume=True)
    got_order = {(r.url, r.host, r.wave, r.rank) for r in spark.read.parquet(paths["order"]).collect()}
    assert got_order == set(oracle_result[0])
    got_seen = {r.url: r.wave for r in spark.read.parquet(paths["seen"]).collect()}
    assert got_seen == oracle_result[1]


def test_resume_recovers_from_corrupt_manifest(spark, inputs, oracle_result, tmp_path_factory):
    """Truncate the manifest after wave 2 -> resume still completes
    identically: read_manifest falls back to the wave dirs' frontier
    _SUCCESS markers (the last per-wave write before the manifest), so the
    resume contract survives manifest damage/format evolution (ST3/ST5)."""
    import json
    import os

    from webscraper_spark.plans.wave import read_manifest

    pages, seeds, robots, politeness = inputs
    ckpt = str(tmp_path_factory.mktemp("ckpt_corrupt"))
    run_crawl(spark, pages, seeds, robots, politeness, ckpt, CrawlConfig(max_waves=3))
    good = read_manifest(ckpt)
    mpath = os.path.join(ckpt, "manifest.json")
    raw = open(mpath).read()
    with open(mpath, "w") as f:
        f.write(raw[: len(raw) // 2])  # truncated mid-JSON
    assert read_manifest(ckpt) == good  # recovered from _SUCCESS markers
    paths = run_crawl(spark, pages, seeds, robots, politeness, ckpt,
                      CrawlConfig(max_waves=MAX_WAVES), resume=True)
    got_order = {(r.url, r.host, r.wave, r.rank) for r in spark.read.parquet(paths["order"]).collect()}
    assert got_order == set(oracle_result[0])

    # a manifest from a NEWER format version refuses loudly instead of guessing
    with open(mpath, "w") as f:
        json.dump({"version": 99, "completed_waves": good}, f)
    with pytest.raises(RuntimeError, match="version 99"):
        read_manifest(ckpt)


def test_unknown_host_gets_politeness_defaults(spark):
    """Hosts discovered mid-crawl (absent from the budgets table) inherit the
    politeness '*' row, not hardcoded literals (resolve_budgets emits the
    star row; schedule_ranked coalesces through it)."""
    from webscraper_spark.operators.robots import resolve_budgets
    from webscraper_spark.operators.schedule import schedule_ranked

    robots = spark.createDataFrame(
        [("known.example", [], 0)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long",
    )
    politeness = spark.createDataFrame(
        [("*", 7, 350), ("known.example", 2, 100)],
        "host string, max_pages_per_wave long, min_delay_ms long",
    )
    budgets = resolve_budgets(robots.select("host"), robots, politeness)
    star = {r.host: (r.max_pages, r.delay_ms) for r in budgets.collect()}
    assert star["*"] == (7, 350)
    cand = spark.createDataFrame(
        [(f"https://surprise.example/p{i}", "surprise.example", 1, 1, i) for i in range(10)]
        + [(f"https://known.example/p{i}", "known.example", 1, 1, i) for i in range(4)],
        "url string, host string, depth int, disc_wave int, disc_pos long",
    )
    sched = schedule_ranked(cand, budgets, wave=0).collect()
    surprise = [r for r in sched if r.host == "surprise.example"]
    known = [r for r in sched if r.host == "known.example"]
    # unknown host: '*' defaults (7 pages, 350ms), NOT the (40, 1000) literals
    assert sum(r.in_budget for r in surprise) == 7
    assert all(r.delay_ms == 350 for r in surprise)
    # known host keeps its override
    assert sum(r.in_budget for r in known) == 2
    assert all(r.delay_ms == 100 for r in known)


def test_duplicate_host_policy_rows_rejected(spark):
    """Two robots or politeness rows for one host would give it one policy
    row per pair of rows, and schedule_ranked would rank each of its URLs
    once per policy row. resolve_host_policy refuses them by name; duplicate
    '*' rows still collapse to their minimum."""
    from webscraper_spark.operators.robots import resolve_host_policy

    def tables(robots_rows, politeness_rows):
        return (
            spark.createDataFrame(robots_rows, "host string, disallow_prefixes array<string>, crawl_delay_ms long"),
            spark.createDataFrame(politeness_rows, "host string, max_pages_per_wave long, min_delay_ms long"),
        )

    robots_dup = tables(
        [("a.ex", ["/private"], 0), ("a.ex", [], 0), ("b.ex", [], 0)],
        [("*", 7, 350), ("b.ex", 2, 100)],
    )
    with pytest.raises(ValueError, match=r"host\(s\): a\.ex$"):
        resolve_host_policy(*robots_dup)
    politeness_dup = tables(
        [("a.ex", [], 0), ("b.ex", [], 0)],
        [("*", 7, 350), ("a.ex", 2, 100), ("a.ex", 3, 100), ("b.ex", 2, 100), ("b.ex", 4, 50)],
    )
    with pytest.raises(ValueError, match=r"host\(s\): a\.ex, b\.ex$"):
        resolve_host_policy(*politeness_dup)

    policy, defaults = resolve_host_policy(*tables(
        [("a.ex", ["/private"], 0)], [("*", 7, 350), ("*", 5, 400), ("a.ex", 2, 100)],
    ))
    assert defaults == (5, 350)
    assert [(r.host, r.max_pages, r.delay_ms) for r in policy.collect()] == [("a.ex", 2, 100)]


def test_policy_rows_follow_the_documented_rules(spark):
    """resolve_budgets' docstring, row by row: delay = max(politeness delay
    [host override else '*'], robots crawl_delay); budget = host override
    else '*'; duplicate '*' rows collapse to their minimum. Every host named
    by either table gets a row, and resolve_host_policy returns the same
    rows without '*' plus the '*' values as its defaults."""
    from webscraper_spark.operators.robots import resolve_budgets, resolve_host_policy

    robots = spark.createDataFrame(
        [("slow.ex", ["/private"], 2000),  # robots delay above the '*' delay
         ("fast.ex", [], 100),  # robots delay below the '*' delay
         ("over.ex", None, 0),
         ("robots-only.ex", ["/"], 0)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long",
    )
    politeness = spark.createDataFrame(
        [("*", 7, 350), ("*", 5, 400), ("over.ex", 2, 900), ("polite-only.ex", 3, 50)],
        "host string, max_pages_per_wave long, min_delay_ms long",
    )
    hosts = robots.select("host").unionByName(politeness.select("host"))
    got = {r.host: (r.disallow_prefixes, r.max_pages, r.delay_ms)
           for r in resolve_budgets(hosts, robots, politeness).collect()}
    assert got == {
        "slow.ex": (["/private"], 5, 2000),
        "fast.ex": ([], 5, 350),
        "over.ex": (None, 2, 900),
        "robots-only.ex": (["/"], 5, 350),
        "polite-only.ex": (None, 3, 50),
        "*": (None, 5, 350),
    }

    policy, defaults = resolve_host_policy(robots, politeness)
    assert defaults == (5, 350)
    assert {r.host: (r.disallow_prefixes, r.max_pages, r.delay_ms) for r in policy.collect()} == {
        h: v for h, v in got.items() if h != "*"}


def test_policy_without_star_row_uses_module_defaults(spark):
    """No politeness '*' row at all: every host without an override, and the
    '*' row itself, get (DEFAULT_MAX_PAGES, DEFAULT_DELAY_MS) = (40, 1000)."""
    from webscraper_spark.operators.robots import DEFAULT_DELAY_MS, DEFAULT_MAX_PAGES, resolve_budgets

    assert (DEFAULT_MAX_PAGES, DEFAULT_DELAY_MS) == (40, 1000)
    robots = spark.createDataFrame(
        [("a.ex", [], 0), ("b.ex", [], 1500)],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long",
    )
    politeness = spark.createDataFrame(
        [("b.ex", 9, 200)], "host string, max_pages_per_wave long, min_delay_ms long",
    )
    got = {r.host: (r.max_pages, r.delay_ms)
           for r in resolve_budgets(robots.select("host"), robots, politeness).collect()}
    assert got == {"a.ex": (40, 1000), "b.ex": (9, 1500), "*": (40, 1000)}


def test_apply_robots_matches_prefix_oracle(spark, params):
    """apply_robots keeps exactly the urls whose path starts with none of
    their host's disallow prefixes, computed in plain Python from
    seq_oracle.path_of; a host with no robots row keeps everything."""
    from webscraper_spark.operators.robots import apply_robots
    from webscraper_spark.oracle.seq_oracle import path_of
    from webscraper_spark.sources.synth import gen_robots

    robots = gen_robots(spark, params)
    rules = {r.host: list(r.disallow_prefixes) for r in robots.limit(40).collect()}
    unlisted = "norobots.example"
    rows = [(f"https://{h}{p}", h) for h in [*rules, unlisted]
            for p in ("/ad/private/1", "/ad/public/1", "/x")]
    want = {u for u, h in rows if not any(path_of(u).startswith(p) for p in rules.get(h, []))}
    cand = spark.createDataFrame(rows, "url string, host string")
    got = {r.url for r in apply_robots(cand, robots).collect()}
    assert got == want
    assert f"https://{unlisted}/ad/private/1" in got
    assert len(want) < len(rows)  # the corpus rules block something


def test_bucketed_corpus_join_identical(spark, corpus_dir, inputs, oracle_result, tmp_path_factory, monkeypatch):
    """The bucketed-corpus fetch path (pages as a bucketed catalog table,
    BUCKETED_BROADCAST_BATCH_MAX=0 so EVERY wave takes the bucket-aligned
    shuffled-hash join instead of the batch broadcast) produces the identical
    crawl order + seen set — and its physical plan really is exchange-free on
    the corpus side (the Iceberg bucket(N, url) behavior this layout stands
    in for)."""
    from webscraper_spark.sources.synth import load_pages

    pages_b, bucketed = load_pages(spark, corpus_dir["pages"])
    assert bucketed, "conftest corpus should be materialized bucketed"

    # plan shape: url-equi-join against the bucketed table exchanges only
    # the other side
    probe = pages_b.join(pages_b.select("url").hint("SHUFFLE_HASH"), "url", "left_anti")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan

    _, seeds, robots, politeness = inputs
    ckpt = str(tmp_path_factory.mktemp("ckpt_bucketed"))
    monkeypatch.setattr(wave_mod, "BUCKETED_BROADCAST_BATCH_MAX", 0)
    paths = run_crawl(
        spark, pages_b, seeds, robots, politeness, ckpt,
        CrawlConfig(max_waves=MAX_WAVES, corpus_bucketed=True),
    )
    got_order = {(r.url, r.host, r.wave, r.rank) for r in spark.read.parquet(paths["order"]).collect()}
    assert got_order == set(oracle_result[0])
    got_seen = {r.url: r.wave for r in spark.read.parquet(paths["seen"]).collect()}
    assert got_seen == oracle_result[1]


def test_missing_pages_match_oracle(spark, inputs, tmp_path_factory):
    """Seeds absent from the corpus (on a known host and on an unknown one)
    take the misses side of the fetch union into the batch-sized extraction
    stage: same order and seen set as the oracle, fetch_status='missing'."""
    pages, seeds, robots, politeness = inputs
    host = robots.first().host
    absent = [f"https://{host}/ad/absent-1", f"https://{host}/ad/absent-2", "https://nowhere.example/x"]
    seeds_m = seeds.select("url").unionByName(spark.createDataFrame([(u,) for u in absent], "url string"))
    want_order, want_seen, _ = _oracle(pages, seeds_m, robots, politeness, max_waves=2)
    assert set(absent) <= set(want_seen)

    ckpt = str(tmp_path_factory.mktemp("ckpt_missing"))
    paths = run_crawl(spark, pages, seeds_m, robots, politeness, ckpt, CrawlConfig(max_waves=2))
    got_order = {(r.url, r.host, r.wave, r.rank) for r in spark.read.parquet(paths["order"]).collect()}
    assert got_order == set(want_order)
    got_seen = {r.url: r.wave for r in spark.read.parquet(paths["seen"]).collect()}
    assert got_seen == want_seen
    status = {r.url: r.fetch_status for r in _results(spark, paths)
              .filter(F.col("url").isin(absent)).select("url", "fetch_status").collect()}
    assert status == dict.fromkeys(absent, "missing")


def test_run_crawl_restores_session_on_error(spark, inputs, tmp_path_factory, monkeypatch):
    """run_crawl sets no session conf: every conf is as it was before a
    crawl that succeeds and before one that raises, the scan-split and
    AQE-coalescing keys included, and the schedule cache is released."""
    import webscraper_spark.plans.wave as wave_mod

    keys = (
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    prev_coalesce = spark.conf.get(keys[2])
    spark.conf.set(keys[2], "false")  # a crawl that turned it on would show
    try:
        before = {k: spark.conf.get(k) for k in keys}
        all_before = spark.conf.getAll
        # Compared as id sets, not counts: Spark's ContextCleaner may reclaim
        # earlier tests' localCheckpoint RDDs while the crawls run.
        cached_before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
        pages, seeds, robots, politeness = inputs

        run_crawl(spark, pages, seeds, robots, politeness,
                  str(tmp_path_factory.mktemp("ckpt_ok")), CrawlConfig(max_waves=1))
        assert spark.conf.getAll == all_before

        def boom(*_a, **_k):
            raise RuntimeError("injected mid-wave failure")

        monkeypatch.setattr(wave_mod, "expand_outlinks", boom)
        ckpt = str(tmp_path_factory.mktemp("ckpt_raise"))
        with pytest.raises(RuntimeError, match="injected"):
            run_crawl(spark, pages, seeds, robots, politeness, ckpt, CrawlConfig(max_waves=2))
        assert {k: spark.conf.get(k) for k in keys} == before
        assert spark.conf.getAll == all_before
        assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) <= cached_before
    finally:
        spark.conf.set(keys[2], prev_coalesce)


# Spark jobs of a 2-wave crawl of the test corpus, as measured: none for the
# host policy, the seen seed or a re-read's schema inference.
TWO_WAVE_CRAWL_JOBS = 27


def test_two_wave_crawl_job_count(spark, inputs, tmp_path_factory):
    """A crawl's fixed cost is mostly its Spark jobs: a 2-wave crawl runs at
    most TWO_WAVE_CRAWL_JOBS of them."""
    sc = spark.sparkContext
    group = "test_two_wave_crawl_job_count"
    sc.setJobGroup(group, "2-wave crawl")
    try:
        paths = run_crawl(spark, *inputs, str(tmp_path_factory.mktemp("ckpt_jobs")), CrawlConfig(max_waves=2))
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert json.loads(paths["waves"]) == [0, 1]
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= TWO_WAVE_CRAWL_JOBS


def test_extract_partitions_sizing():
    """max(slots, ceil(rows / rows_per_task)), slots = parallelism // task.cpus."""
    from webscraper_spark.plans.wave import extract_partitions

    per_task = 2 * 1024  # two 1024-row Arrow batches
    assert extract_partitions(0, 4, "2", 1024) == 2  # empty batch: one task per slot
    assert extract_partitions(per_task - 1, 4, "2", 1024) == 2  # under one task's rows
    assert extract_partitions(2 * per_task + 1, 4, "2", 1024) == 3  # just past the slots
    assert extract_partitions(100_000, 4, "2", 1024) == 49  # many rows: ceil(100000 / 2048)
    assert extract_partitions(0, 8, None, 1024) == 8  # task.cpus unset = 1
    assert extract_partitions(0, 8, "2", 1024) == 4  # task.cpus=2 halves the slots
    assert extract_partitions(0, 1, "2", 1024) == 1  # never below one partition
