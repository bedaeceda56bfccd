"""Crawl-wave driver: frontier -> schedule -> fetch -> extract -> expand.

Each wave is one DataFrame job (north_rule: "each crawl wave is a DataFrame
job"), mirroring the reference's page-batch loop
(/root/reference/app/controllers/cars_controller.rb:140-337) as batch waves:

  once per crawl:
    host policy = robots rules + budgets + delays per host, resolved in
    plain Python on the driver from the two collected rules tables; the
    politeness '*' defaults become literals                  (ST1, ST6)

  wave w:
    1. candidates = frontier ANTI-JOIN seen            (J1)
       seen = the `fetched` urls of every completed wave, read back from
       their parquet files; wave 0 of a fresh crawl has none and skips it
    2. ONE broadcast join of the host policy: robots filter, then
       per-host rank, then budget gate + simulated clock  (ST6, W1-W4, ST1)
    3. barrier: one aggregate over the persisted schedule materializes it
       and returns the batch row count
    4. fetch = batch LEFT JOIN pages on canonical url  (S2 — sandbox fetch)
    5. extract fields/outlinks, quarantine errors      (P1/P2/P5, F1-F19),
       in a stage sized to the batch: max(slots, ceil(rows / rows_per_task))
       partitions, not one task per corpus scan split
    6. new frontier = deferred rows + canonical outlinks, one aggregate
       per url keeping the minimal discovery record  (S3-S5); the next
       wave's step 1 takes out the seen urls
    7. checkpoint: fetched + frontier parquet + manifest
       -> any wave is resumable (ST3/ST5); every re-read of them names its
       schema, so none runs a schema-inference job

The crawl ends at max_waves or at a wave whose schedule holds no in-budget
row (step 3), whether the crawl is fresh or resumed.

Every wave materializes its state to parquet: that is simultaneously the
checkpoint, the lineage truncation (iterative plans would otherwise grow
unboundedly), and at cluster scale the bucketed seen-table append. A fresh
crawl and a resumed one build the seen set the same way, from those files.

Determinism: discovery position disc_pos = parent_rank * 1024 + link_pos,
ordering key (depth, disc_wave, disc_pos, url) — a total order, independent
of partitioning. Verified row-for-row against the pure-Python sequential
oracle (oracle/seq_oracle.py).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import canonicalize_url, url_host
from webscraper_spark.functions.extract import extracted_text, listing_text
from webscraper_spark.functions.extract_pandas import with_extraction_arrow
from webscraper_spark.operators.robots import resolve_host_policy
from webscraper_spark.operators.schedule import schedule_ranked
from webscraper_spark.operators.seen import anti_join_seen

MAX_LINKS_PER_PAGE = 1024

# Columns of the order table, as the `fetched` files store them.
ORDER_SCHEMA = "url string, host string, wave int, rank int, sched_ms long"

# Columns of a frontier table: the seeds' and every wave's checkpoint.
FRONTIER_SCHEMA = "url string, host string, depth int, disc_wave int, disc_pos long"

RESULT_COLS = [
    "url", "host", "wave", "rank", "sched_ms", "depth", "fetch_status",
    "x_title", "x_price_cell", "x_km_cell", "x_power_cell", "x_fuel",
    "x_category", "x_transmission", "x_ez", "x_consumption", "x_co2",
    "x_damage", "x_country", "x_attr_map", "x_features", "x_images",
    "x_dealer_name", "x_address_raw", "x_postal_code", "x_dealer_city",
    "x_dealer_street", "x_phone", "x_dealer_rating", "x_quantity_ratings",
    "x_pubdate", "x_status", "extracted_text",
    "lang", "warc_ts",
]


# Fetch-join strategy, picked each wave from the observed batch row count.
# Politeness-bounded batches (the normal crawl regime) broadcast: tiny
# build, zero corpus movement. Above the threshold the driver-side broadcast
# build becomes the serial bottleneck (it grows linearly with the batch), so
# the join flips to a shuffled hash join — the sandbox stand-in for the
# bucketed storage-partitioned join an Iceberg deployment would use
# (bucket(url) on both sides; no corpus shuffle).
BROADCAST_BATCH_MAX = 5_000_000
# Corpus loaded as a bucketed catalog table (sources.synth.load_pages): a
# url-equi-join exchanges ONLY the thin batch side — the corpus reads in
# place (the Iceberg bucket(N, url) layout's behavior). The broadcast path's
# costs (serial driver build, one deserialize+hash-build per executor) then
# buy nothing, so the flip to the shuffled-hash join happens ~10x earlier.
BUCKETED_BROADCAST_BATCH_MAX = 500_000


@dataclass
class CrawlConfig:
    max_waves: int = 16
    # Pages is a bucketed catalog table: selects BUCKETED_BROADCAST_BATCH_MAX.
    corpus_bucketed: bool = False


# Rows one extraction task takes: two Arrow batches of the session's
# spark.sql.execution.arrow.maxRecordsPerBatch.
ARROW_BATCHES_PER_TASK = 2


def extract_partitions(batch_rows: int, parallelism: int, task_cpus: str | None, arrow_batch: int) -> int:
    """Partitions of one wave's fetch+extract stage: max(slots,
    ceil(batch_rows / rows_per_task)), where slots = parallelism //
    spark.task.cpus (None = unset = 1) is how many tasks run at once.

    Each task of that stage pays a fixed Python-worker cost (~0.33s on a
    4-core host) whatever its row count, so a small batch runs in one wave
    of tasks, and a large one in tasks of a few Arrow batches each."""
    slots = max(parallelism // int(task_cpus or 1), 1)
    rows_per_task = ARROW_BATCHES_PER_TASK * arrow_batch
    return max(slots, -(-batch_rows // rows_per_task))


def _wave_dir(ckpt_dir: str, wave: int) -> str:
    return os.path.join(ckpt_dir, f"wave={wave}")


def fetched_paths(ckpt_dir: str, waves: list[int]) -> list[str]:
    """The `fetched` dirs of the given waves. Reading this list rather than
    the `wave=*/fetched` glob keeps Spark from probing the glob for a
    streaming sink's metadata directory, which logs a warning and a stack
    trace on every read."""
    return [os.path.join(_wave_dir(ckpt_dir, w), "fetched") for w in waves]


def _manifest_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "manifest.json")


MANIFEST_VERSION = 1


def _write_manifest(ckpt_dir: str, completed: list[int]) -> None:
    tmp = _manifest_path(ckpt_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"version": MANIFEST_VERSION, "completed_waves": completed}, f)
    os.replace(tmp, _manifest_path(ckpt_dir))


def _recover_completed(ckpt_dir: str) -> list[int]:
    """Rebuild the completed-wave list from the wave dirs themselves: a wave
    is complete iff its frontier table finished writing (frontier/_SUCCESS —
    the last per-wave write before the manifest). Only the contiguous prefix
    from wave 0 counts: a gap means later dirs are partial debris from a
    run that died mid-write, and resuming past a gap would drop its
    seen-set contribution."""
    done = set()
    for d in os.listdir(ckpt_dir):
        if d.startswith("wave=") and os.path.exists(os.path.join(ckpt_dir, d, "frontier", "_SUCCESS")):
            done.add(int(d.split("=", 1)[1]))
    completed = []
    w = 0
    while w in done:
        completed.append(w)
        w += 1
    return completed


def read_manifest(ckpt_dir: str) -> list[int]:
    """Completed waves from the manifest; a corrupt/truncated manifest file
    (external damage — writes themselves are atomic tmp+rename) falls back
    to recovery from the wave dirs' _SUCCESS markers, so resume survives it.
    A manifest from a NEWER format version is an error, not a guess."""
    p = _manifest_path(ckpt_dir)
    if not os.path.exists(p):
        return []
    try:
        with open(p) as f:
            data = json.load(f)
        waves = list(data["completed_waves"])
    except (json.JSONDecodeError, KeyError, TypeError, ValueError):
        return _recover_completed(ckpt_dir)
    if int(data.get("version", 1)) > MANIFEST_VERSION:
        raise RuntimeError(
            f"checkpoint manifest {p} has version {data.get('version')} > "
            f"supported {MANIFEST_VERSION}; refusing to resume with an older engine"
        )
    return waves


def seeds_to_frontier(seeds: DataFrame) -> DataFrame:
    """Canonicalize + dedup seeds into wave-0 frontier rows."""
    s = seeds.select(canonicalize_url(F.col("url")).alias("url"))
    return s.distinct().select(
        "url",
        url_host(F.col("url")).alias("host"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("disc_wave"),
        F.lit(0).cast("long").alias("disc_pos"),
    )


DISCOVERY_COLS = ["url", "depth", "disc_wave", "disc_pos"]


def expand_outlinks(fetched: DataFrame, wave: int) -> DataFrame:
    """One discovery record (url, depth, disc_wave, disc_pos) per outlink of
    the fetched pages, in link order. Not deduped: merge_frontier does that.
    The urls were canonicalized inside the extraction UDF."""
    return fetched.select(
        F.col("depth").alias("p_depth"),
        F.col("rank").alias("p_rank"),
        F.posexplode("x_outlinks_canon").alias("link_pos", "url"),
    ).select(
        "url",
        (F.col("p_depth") + 1).cast("int").alias("depth"),
        F.lit(wave + 1).cast("int").alias("disc_wave"),
        (F.col("p_rank").cast("long") * MAX_LINKS_PER_PAGE
         + F.least(F.col("link_pos").cast("long"), F.lit(MAX_LINKS_PER_PAGE - 1))).alias("disc_pos"),
    )


def merge_frontier(deferred: DataFrame, new_cand: DataFrame) -> DataFrame:
    """The next frontier: deferred rows and outlink records, one row per url
    with its minimal (depth, disc_wave, disc_pos) and the url's host."""
    both = deferred.select(*DISCOVERY_COLS).unionByName(new_cand.select(*DISCOVERY_COLS))
    return (
        both.groupBy("url")
        .agg(F.min(F.struct("depth", "disc_wave", "disc_pos")).alias("m"))
        .select("url", url_host(F.col("url")).alias("host"),
                F.col("m.depth").alias("depth"), F.col("m.disc_wave").alias("disc_wave"),
                F.col("m.disc_pos").alias("disc_pos"))
    )


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    politeness: DataFrame,
    ckpt_dir: str,
    config: CrawlConfig | None = None,
    resume: bool = False,
) -> dict[str, str]:
    """Run the crawl to frontier exhaustion (or max_waves). Returns paths of
    the accumulated order table, the seen set (the same directory: its
    `(url, wave)` columns) and the results glob. The crawl sets no session
    conf, so the caller's session is unchanged on return, also when a wave
    raises."""
    cfg = config or CrawlConfig()
    os.makedirs(ckpt_dir, exist_ok=True)

    completed = read_manifest(ckpt_dir) if resume else []
    if not resume and os.path.exists(_manifest_path(ckpt_dir)):
        # fresh run over an old dir: clear stale state
        shutil.rmtree(ckpt_dir)
        os.makedirs(ckpt_dir)

    if completed:
        start_wave = max(completed) + 1
        frontier_dir = os.path.join(_wave_dir(ckpt_dir, max(completed)), "frontier")
        frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(frontier_dir)
    else:
        start_wave = 0
        frontier = seeds_to_frontier(seeds)

    # robots rules + budgets + delays of every known host, resolved ONCE per
    # crawl into a driver-local table; its '*' defaults become literals.
    policy, policy_defaults = resolve_host_policy(robots, politeness)
    # extract_partitions' session inputs: parallelism, task.cpus, Arrow batch
    sc = spark.sparkContext
    stage_conf = (
        sc.defaultParallelism,
        sc.getConf().get("spark.task.cpus"),
        int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
    )

    debug = os.environ.get("WS_DEBUG_TIMING", "0") == "1"

    def _tick(label: str, t0: float) -> float:
        t1 = time.time()
        if debug:
            print(f"    [wave timing] {label}: {t1 - t0:.2f}s", file=sys.stderr)
        return t1

    sched = None
    try:
        for wave in range(start_wave, cfg.max_waves):
            wdir = _wave_dir(ckpt_dir, wave)
            os.makedirs(wdir, exist_ok=True)
            tw = time.time()

            # 1. candidates minus seen, the fetched urls of every completed
            # wave. Read from parquet, the seen side has known file sizes, so
            # the planner can broadcast it from the start.
            if completed:
                seen = spark.read.schema("url string").parquet(*fetched_paths(ckpt_dir, completed))
                cand = anti_join_seen(frontier, seen)
            else:
                cand = frontier

            # 2-3. one broadcast join of the host policy: robots filter, then
            # rank, then budget gate + simulated politeness clock.
            # Persist the ranked schedule ONCE (memory, spill-to-disk): the
            # schedule subtree (anti-join + policy join + skewed per-host
            # window) would otherwise be re-executed by every consumer
            # (broadcast build, miss anti-join, frontier merge). In-memory
            # persist, NOT a parquet barrier — the schedule is recomputable
            # from the frontier checkpoint, so durability buys nothing.
            #
            # The barrier: one aggregate over the persisted schedule counts
            # the in-budget rows, and in doing so materializes the cache
            # BEFORE the fetch job is submitted. Without it the fetch job's
            # concurrent subtrees — the broadcast-build future for the batch
            # side and the miss anti-join's shuffle stage — both pull on the
            # COLD cache at once and duplicate/serialize the whole schedule
            # computation: measured 115.2s -> 61.9s for the sf0.4 crawl at
            # local[8]. The count it returns sizes the fetch stage below,
            # picks the fetch-join strategy and is the crawl's one stop
            # condition: an empty batch (empty frontier, or every row seen
            # or robots-filtered) ends it before any fetch job is submitted.
            sched = schedule_ranked(cand, policy, wave, policy_defaults).persist()
            n_batch = sched.agg(F.count_if("in_budget")).first()[0]
            tw = _tick(f"w{wave} schedule+barrier", tw)
            if n_batch == 0:
                shutil.rmtree(wdir, ignore_errors=True)
                break
            batch = sched.filter(F.col("in_budget"))
            deferred = sched.filter(~F.col("in_budget"))

            # 4. fetch = join against the pages corpus on canonical url.
            # The batch is ALWAYS the broadcast side — never let Catalyst
            # broadcast the corpus (at 10^10 rows the corpus is only ever
            # scanned; the batch hash table streams past it). Misses are
            # recovered with a cheap anti-join on the small batch. A batch
            # too big to broadcast flips to the shuffled-hash path.
            small_batch = n_batch <= (BUCKETED_BROADCAST_BATCH_MAX if cfg.corpus_bucketed else BROADCAST_BATCH_MAX)
            batch_side = F.broadcast(batch) if small_batch else batch.hint("SHUFFLE_HASH")
            hits = pages.join(batch_side, "url", "inner").withColumn("fetch_status", F.lit("ok"))
            misses = (
                batch.join(pages.select("url") if small_batch else pages.select("url").hint("SHUFFLE_HASH"),
                           "url", "left_anti")
                .select(
                    "*",
                    F.lit(None).cast("timestamp").alias("warc_ts"),
                    F.lit(None).cast("binary").alias("html"),
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("lang"),
                    F.lit("missing").alias("fetch_status"),
                )
            )
            # Sized to the batch, not to the corpus scan: every task of the
            # fused scan→join→UDF→write stage pays a fixed Python-worker
            # cost, so a few hundred rows must not fan out over every scan
            # split. coalesce merges partitions without a shuffle. Only on
            # the broadcast path: coalescing shuffled-hash join partitions
            # makes one task build many hash relations, each freed only when
            # the task ends, and runs out of execution memory. A batch that
            # big already needs hundreds of extraction partitions.
            fetched = hits.unionByName(misses.select(*hits.columns))
            if small_batch:
                fetched = fetched.coalesce(extract_partitions(n_batch, *stage_conf))

            # 5. extract (Arrow pandas-UDF engine — one Python evaluation per
            # row; text rebuilt from its columns below)
            fetched = with_extraction_arrow(fetched)
            fetched = fetched.select(
                # html/text are fully consumed by extraction — dropping them
                # cuts the per-wave checkpoint from ~3KB/row to ~100B/row (at
                # corpus scale the checkpoint must never re-store page bodies)
                *[c for c in fetched.columns if c not in ("html", "text")],
                F.when(F.col("x_status") == "listing", listing_text())
                .when(F.col("x_status") == "ok", extracted_text())
                .otherwise(F.lit(None).cast("string"))
                .alias("extracted_text"),
                F.lit(wave).alias("wave"),
                F.coalesce(F.length("html").cast("long"), F.lit(0)).alias("fetch_bytes"),
            )

            # materialize the wave once; everything below reuses it.
            # (Deliberately NOT repartitioned before the write: rows carry
            # ~3KB of array columns, and a round-robin repartition pays
            # sort-before-repartition + a full shuffle of those bytes.)
            fetched.write.mode("overwrite").parquet(os.path.join(wdir, "fetched"))
            tw = _tick(f"w{wave} fetch+extract+write", tw)
            fetched = spark.read.schema(fetched.schema).parquet(os.path.join(wdir, "fetched"))
            tw = _tick(f"w{wave} fetched-footers+reread", tw)

            # 6. deferred rows + outlinks -> next frontier, deduped by one
            # aggregate. seen/order/results are all projections of the
            # materialized `fetched` — no extra per-wave writes (order is
            # finalized ONCE after the loop).
            #
            # No seen anti-join here: already-fetched urls are eliminated by
            # the next wave's anti-join anyway, and filtering now would
            # broadcast/shuffle the whole seen set once more per wave. (The
            # frontier checkpoint may therefore carry some seen urls — the
            # crawl order/seen-set semantics are unchanged; oracle-verified.)
            next_frontier = merge_frontier(deferred, expand_outlinks(fetched, wave))
            next_frontier.write.mode("overwrite").parquet(os.path.join(wdir, "frontier"))
            sched.unpersist()
            tw = _tick(f"w{wave} frontier-merge+write", tw)

            completed.append(wave)
            _write_manifest(ckpt_dir, completed)

            frontier = spark.read.schema(FRONTIER_SCHEMA).parquet(os.path.join(wdir, "frontier"))
            # perfbench/trace.py parses this label as the manifest phase.
            tw = _tick(f"w{wave} manifest+frontier-footers", tw)

        paths = _finalize(spark, ckpt_dir, completed)
    finally:
        if sched is not None:
            sched.unpersist()
    return paths


def _finalize(spark: SparkSession, ckpt_dir: str, completed: list[int]) -> dict[str, str]:
    """Derived views over all waves' fetched files.

    `results` is served ZERO-COPY as a glob path over the wave files —
    re-writing the full extraction output would double the job's bytes
    (measured: the copy was ~50% of total wall at sf2.5). At cluster scale
    this is the Iceberg metadata-only view over the wave partitions; the
    glob is its sandbox equivalent. The wave files carry a superset of
    RESULT_COLS; parquet is columnar, so unread extras cost nothing.

    `order` is the one table written. `seen` names the same directory: the
    seen set is the order table's `(url, wave)` columns."""
    order = os.path.join(ckpt_dir, "order")
    paths = {
        "ckpt_dir": ckpt_dir,
        "waves": json.dumps(completed),
        "order": order,
        "results": os.path.join(ckpt_dir, "wave=*", "fetched"),
        "seen": order,
    }
    if not completed:
        return paths
    # a persist() of the wave files here is a trap (columnar-cache build of
    # the array columns cost 410s of GC at sf0.4 — a parquet re-scan is far
    # cheaper than caching fat rows).
    rows = spark.read.schema(ORDER_SCHEMA).parquet(*fetched_paths(ckpt_dir, completed))
    rows.write.mode("overwrite").parquet(order)
    return paths
