"""Per-layer metrics from one traced job.

A traced run adds, after its untraced closed loop:
1. one traced crawl (the workload's crawl; for dealer pricing, its
   crawl_breadth input) with spans around the calls and run_crawl's
   WS_DEBUG_TIMING phase lines parsed into `wave.phase.*` spans;
2. the dealer pipeline over that crawl's results, with spans;
3. replays of each layer's public function on the traced crawl's own
   per-wave checkpoint inputs, each timed around a `noop` write, with row
   counts taken at the same boundary (inputs are materialized untimed, so
   a replay times one layer, not the plan beneath it);
4. a cold generation of a tiny corpus (`sources`);
5. the Spark event log of the whole session, read after it stops.

The job span is whichever of (1) and (2) the workload times; tracing
overhead is its duration minus the untraced median job_s.
"""

from __future__ import annotations

import os
import time

import pyarrow.compute as pc

from inputs import dir_bytes, parquet_rows, read_table
from trace import EventLog, Tracer, capture_wave_timing, self_times, wave_timing_spans

UNITS = {
    "extract.udf_s": "s", "extract.rows": "count", "extract.html_mb": "MB", "extract.mb_per_s": "MB/s",
    "extract.ok_ratio": "ratio",
    "wave.fetch_join_s": "s", "wave.corpus_rows_scanned": "count", "wave.batch_rows": "count",
    "wave.scan_per_fetch": "ratio", "wave.fetch_hit_ratio": "ratio",
    "seen.anti_join_s": "s", "seen.seen_rows": "count", "seen.cand_rows": "count", "seen.survive_ratio": "ratio",
    "robots.apply_s": "s", "robots.drop_ratio": "ratio",
    "schedule.rank_s": "s", "schedule.in_budget_ratio": "ratio", "schedule.deferred_rows": "count",
    "canon.expand_s": "s", "canon.links_emitted": "count", "canon.dedup_ratio": "ratio", "wave.merge_s": "s",
    "wave.phase.schedule_s": "s", "wave.phase.fetch_extract_write_s": "s", "wave.phase.reread_s": "s",
    "wave.phase.frontier_write_s": "s", "wave.phase.manifest_s": "s", "wave.prelude_s": "s",
    "wave.finalize_s": "s", "wave.jobs_per_wave": "count", "wave.driver_idle_frac": "ratio",
    "wave.ckpt_bytes": "bytes", "wave.ckpt_files": "count", "shopify.sheet_bytes": "bytes", "shopify.write_s": "s",
    "pricing.eligible_ratio": "ratio", "pricing.matrix_rows": "count", "pricing.variant_rows": "count",
    "pricing.matrix_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB", "spark.tasks": "count", "spark.stage_skew": "ratio",
    "sources.materialize_s": "s", "sources.corpus_mb": "MB",
    "trace.job_s": "s", "trace.overhead_s": "s", "trace.self_cover_ratio": "ratio",
    "failed_frac": "ratio", "peak_rss_mb": "MB",
}

# generated cold in the traced session to time the corpus generator
SOURCES_PROBE_SF = 0.0001


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


class Replayer:
    """Times one layer call at a time around a noop write."""

    def __init__(self, spark, tracer: Tracer, tmp: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.tmp = tmp
        self.secs: dict[str, float] = {}

    def time(self, layer: str, df, wave: int) -> None:
        sc = self.spark.sparkContext
        sc.setJobDescription(f"replay:{layer}:w{wave}")
        try:
            with self.tracer.span(f"replay.{layer}", "replay", wave=wave) as s:
                df.write.format("noop").mode("overwrite").save()
        finally:
            sc.setJobDescription(None)
        self.secs[layer] = self.secs.get(layer, 0.0) + s.dur

    def materialize(self, name: str, df):
        """Untimed parquet copy, so the next replay starts from stored rows."""
        path = os.path.join(self.tmp, name)
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path), parquet_rows(path)


def replay_waves(r, ckpt: str, rep: Replayer) -> dict[str, float]:
    """Every crawl layer, wave by wave, on the traced crawl's checkpoints."""
    from pyspark.sql import functions as F

    from webscraper_spark.functions.canon import url_hash
    from webscraper_spark.functions.extract_pandas import with_extraction_arrow
    from webscraper_spark.operators.robots import apply_robots, resolve_budgets
    from webscraper_spark.operators.schedule import schedule_ranked
    from webscraper_spark.operators.seen import anti_join_seen
    from webscraper_spark.plans.wave import expand_outlinks, merge_frontier, read_manifest, seeds_to_frontier

    spark, ld = r.spark, r.loaded
    hosts = ld.robots.select("host").unionByName(ld.politeness.filter(F.col("host") != "*").select("host")).distinct()
    budgets, _ = rep.materialize("budgets", resolve_budgets(hosts, ld.robots, ld.politeness))
    c = dict.fromkeys(("cand", "seen", "survive", "allowed", "ranked", "batch", "deferred", "hits",
                       "x_rows", "x_ok", "html_b", "links", "unique"), 0)
    waves = read_manifest(ckpt)
    for w in waves:
        fetched_dirs = [os.path.join(ckpt, f"wave={k}", "fetched") for k in range(w)]
        frontier = (seeds_to_frontier(ld.seeds) if w == 0
                    else spark.read.parquet(os.path.join(ckpt, f"wave={w - 1}", "frontier")))
        frontier, n = rep.materialize(f"w{w}/frontier", frontier)
        c["cand"] += n
        if fetched_dirs:
            seen = spark.read.parquet(*fetched_dirs).select(
                url_hash(F.col("url")).alias("url_hash"), "url", F.col("wave").cast("int").alias("wave"))
            c["seen"] += sum(parquet_rows(d) for d in fetched_dirs)
        else:
            seen = spark.createDataFrame([], "url_hash long, url string, wave int")

        rep.time("seen.anti_join", anti_join_seen(frontier, seen), w)
        cand, n = rep.materialize(f"w{w}/cand", anti_join_seen(frontier, seen))
        c["survive"] += n
        rep.time("robots.apply", apply_robots(cand, ld.robots), w)
        allowed, n = rep.materialize(f"w{w}/allowed", apply_robots(cand, ld.robots))
        c["allowed"] += n
        rep.time("schedule.rank", schedule_ranked(allowed, budgets, w), w)
        sched, n = rep.materialize(f"w{w}/sched", schedule_ranked(allowed, budgets, w))
        c["ranked"] += n
        batch, n = rep.materialize(f"w{w}/batch", sched.filter(F.col("in_budget")))
        c["batch"] += n
        deferred, n = rep.materialize(
            f"w{w}/deferred",
            sched.filter(~F.col("in_budget")).select("url", "host", "depth", "disc_wave", "disc_pos"))
        c["deferred"] += n

        rep.time("wave.fetch_join", ld.pages.join(F.broadcast(batch), "url", "inner"), w)
        hits, n = rep.materialize(f"w{w}/hits", ld.pages.join(F.broadcast(batch), "url", "inner").select("url", "html"))
        c["hits"] += n
        html = read_table(os.path.join(rep.tmp, f"w{w}/hits"), ["html"]).column("html")
        c["html_b"] += pc.sum(pc.binary_length(html)).as_py() or 0
        rep.time("extract.udf", with_extraction_arrow(hits), w)

        fetched_path = os.path.join(ckpt, f"wave={w}", "fetched")
        ft = read_table(fetched_path, ["fetch_status", "x_status", "x_outlinks_canon"])
        got = ft.filter(pc.equal(ft.column("fetch_status"), "ok"))
        c["x_rows"] += got.num_rows
        c["x_ok"] += pc.sum(pc.equal(got.column("x_status"), "ok").cast("int64")).as_py() or 0
        c["links"] += pc.sum(pc.list_value_length(ft.column("x_outlinks_canon"))).as_py() or 0
        fetched = spark.read.parquet(fetched_path)
        rep.time("canon.expand", expand_outlinks(fetched, w), w)
        new_cand, n = rep.materialize(f"w{w}/new_cand", expand_outlinks(fetched, w))
        c["unique"] += n
        rep.time("wave.merge", merge_frontier(deferred, new_cand), w)

    s = rep.secs
    x_s = s.get("extract.udf", 0.0)
    html_mb = c["html_b"] / 1e6
    return {
        "seen.anti_join_s": s.get("seen.anti_join", 0.0),
        "seen.seen_rows": c["seen"],
        "seen.cand_rows": c["cand"],
        "seen.survive_ratio": _ratio(c["survive"], c["cand"]),
        "robots.apply_s": s.get("robots.apply", 0.0),
        "robots.drop_ratio": 1.0 - _ratio(c["allowed"], c["survive"]) if c["survive"] else 0.0,
        "schedule.rank_s": s.get("schedule.rank", 0.0),
        "schedule.in_budget_ratio": _ratio(c["batch"], c["ranked"]),
        "schedule.deferred_rows": c["deferred"],
        "wave.fetch_join_s": s.get("wave.fetch_join", 0.0),
        "wave.batch_rows": c["batch"],
        "wave.fetch_hit_ratio": _ratio(c["hits"], c["batch"]),
        "extract.udf_s": x_s,
        "extract.rows": c["hits"],
        "extract.html_mb": html_mb,
        "extract.mb_per_s": _ratio(html_mb, x_s),
        "extract.ok_ratio": _ratio(c["x_ok"], c["x_rows"]),
        "canon.expand_s": s.get("canon.expand", 0.0),
        "canon.links_emitted": c["links"],
        "canon.dedup_ratio": _ratio(c["unique"], c["links"]),
        "wave.merge_s": s.get("wave.merge", 0.0),
        "_hits": c["hits"],
    }


def traced_crawl(r, tracer: Tracer, run_id: str, ckpt: str, as_job: bool):
    """The crawl as workloads.crawl runs it, split into run_crawl (with its
    phase spans, prelude and finalize) and the order-table read-back."""
    from webscraper_spark.plans.wave import CrawlConfig, run_crawl

    ld = r.loaded
    with tracer.span("job" if as_job else "crawl", run_id) as root:
        with capture_wave_timing() as lines:
            with tracer.span("wave.run_crawl", run_id) as rc:
                paths = run_crawl(r.spark, ld.pages, ld.seeds, ld.robots, ld.politeness, ckpt,
                                  CrawlConfig(max_waves=r.wl.max_waves, corpus_bucketed=ld.bucketed))
        with tracer.span("job.order_readable", run_id):
            r.spark.read.parquet(paths["order"]).count()
    phases = wave_timing_spans(tracer, lines, run_id, rc.sid)
    if phases:
        tracer.add("wave.prelude", rc.start, min(p.start for p in phases), run_id, rc.sid)
        tracer.add("wave.finalize", max(p.end for p in phases), rc.end, run_id, rc.sid)
    return root, rc, phases, paths


def traced_dealer(r, tracer: Tracer, run_id: str, results_glob: str, out: str, as_job: bool):
    from workloads import dealer_frames

    with tracer.span("job" if as_job else "dealer", run_id) as root:
        with tracer.span("pricing.plan", run_id):
            cars, sheet = dealer_frames(r.spark, results_glob)
        with tracer.span("shopify.write", run_id) as w:
            sheet.write.mode("overwrite").parquet(out)
        with tracer.span("shopify.footers", run_id):
            rows = parquet_rows(out)
    return root, w, cars, rows


def pricing_metrics(r, rep: Replayer, cars, sheet_dir: str, sheet_rows: int, write_s: float) -> dict[str, float]:
    from pyspark.sql import functions as F

    from webscraper_spark.functions.pricing import price_dims, price_matrix

    cars_m, n_eligible = rep.materialize("cars", cars)
    rep.time("pricing.matrix", price_matrix(cars_m, price_dims(r.spark)), 0)
    n_ok = r.spark.read.parquet(r.traced_results).filter(F.col("x_status") == "ok").count()
    n_matrix = price_matrix(cars_m, price_dims(r.spark)).count()
    return {
        "pricing.eligible_ratio": _ratio(n_eligible, n_ok),
        "pricing.matrix_rows": n_matrix,
        "pricing.variant_rows": sheet_rows,
        "pricing.matrix_s": rep.secs["pricing.matrix"],
        "shopify.sheet_bytes": dir_bytes(sheet_dir)[0],
        "shopify.write_s": write_s,
    }


def traced(r, untraced_job_s: float, trace_dir: str) -> dict[str, dict]:
    """Run the traced job, replays and event-log analysis; returns the
    per-layer metrics as {name: {"value", "unit"}}."""
    from webscraper_spark.sources.synth import materialize_corpus

    spark = r.spark
    tracer = Tracer()
    run_id = f"{r.wl.name}-seed{r.args.seed}"
    is_crawl = r.wl.kind == "crawl"
    tmp = os.path.join(r.tmp, "traced")
    ckpt = os.path.join(tmp, "crawl")
    sheet_dir = os.path.join(tmp, "sheet")
    m: dict[str, float] = {}

    c_root, rc, phases, paths = traced_crawl(r, tracer, run_id, ckpt, as_job=is_crawl)
    r.traced_results = paths["results"]
    d_root, w_span, cars, sheet_rows = traced_dealer(r, tracer, run_id, paths["results"], sheet_dir,
                                                     as_job=not is_crawl)
    job = c_root if is_crawl else d_root

    rep = Replayer(spark, tracer, os.path.join(tmp, "replay"))
    layer = replay_waves(r, ckpt, rep)
    hits = layer.pop("_hits")
    m.update(layer)
    m.update(pricing_metrics(r, rep, cars, sheet_dir, sheet_rows, w_span.dur))

    t0 = time.time()
    materialize_corpus(spark, SOURCES_PROBE_SF, os.path.join(tmp, "sources_probe"), force=True)
    m["sources.materialize_s"] = time.time() - t0
    m["sources.corpus_mb"] = dir_bytes(r.corpus["pages"])[0] / 1e6

    for phase in ("schedule", "fetch_extract_write", "reread", "frontier_write", "manifest"):
        m[f"wave.phase.{phase}_s"] = sum(p.dur for p in phases if p.name == f"wave.phase.{phase}")
    m["wave.prelude_s"] = tracer.total("wave.prelude")
    m["wave.finalize_s"] = tracer.total("wave.finalize")
    ckpt_bytes, ckpt_files = dir_bytes(ckpt)
    m["wave.ckpt_bytes"] = ckpt_bytes
    m["wave.ckpt_files"] = ckpt_files

    selfs = self_times(tracer.spans)
    leaves = [s for s in tracer.spans if s.run_id == run_id and s.sid != job.sid and not
              any(k.parent == s.sid for k in tracer.spans)]
    in_job = [s for s in leaves if s.start >= job.start and s.end <= job.end]
    m["trace.job_s"] = job.dur
    m["trace.overhead_s"] = job.dur - untraced_job_s
    m["trace.self_cover_ratio"] = sum(selfs[s.sid] for s in in_job) / job.dur
    m["failed_frac"] = r.failed / r.attempted
    m["peak_rss_mb"] = r.peak_rss_mb

    app_id = spark.sparkContext.applicationId
    event_dir = os.path.join(r.tmp, "eventlog")
    spark.stop()
    ev = EventLog(EventLog.find(event_dir, app_id))
    m.update(ev.spark_metrics(job.start, job.end))
    scanned = sum(t.records_read for t in ev.tasks_of_jobs("replay:wave.fetch_join"))
    m["wave.corpus_rows_scanned"] = scanned
    m["wave.scan_per_fetch"] = _ratio(scanned, hits)
    n_waves = len({p.attrs["wave"] for p in phases})
    if phases:
        loop = ev.jobs_in(min(p.start for p in phases), max(p.end for p in phases))
        m["wave.jobs_per_wave"] = _ratio(len(loop), n_waves)
    else:
        m["wave.jobs_per_wave"] = 0.0
    m["wave.driver_idle_frac"] = ev.idle_frac(rc.start, rc.end)

    missing = set(UNITS) - set(m)
    if missing:
        raise RuntimeError(f"per-layer metrics not computed: {sorted(missing)}")
    metrics = {k: {"value": float(m[k]), "unit": UNITS[k]} for k in UNITS}
    tracer.write(
        os.path.join(trace_dir, f"{r.wl.name}-seed{r.args.seed}.json"),
        {"workload": r.wl.name, "seed": r.args.seed, "sf": r.args.sf, "run_id": run_id,
         "untraced_job_s": untraced_job_s, "metrics": metrics, "stages": ev.stage_table(tracer.spans)},
    )
    return metrics
