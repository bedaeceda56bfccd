r"""Frontier-hygiene pipeline: the L40-L50 operator family wired into one
wave-shaped job.

The standalone hygiene operators (redirect resolution, canonical
collapse, URL-quality filtering, trap-template mining, AIMD backoff) are
each oracled in isolation; a real crawl runs them as ONE pass over the
candidate frontier between discovery and scheduling. This plan is that
pass — the step the reference never needs (it crawls two hand-picked
sites with Selenium following redirects implicitly,
/root/reference/app/controllers/car_dealers_controller.rb:156, and has
no URL hygiene at all, cars_controller.rb:137-142) but that a 10^10-URL
frontier cannot skip: without it, redirect aliases and tracking-param
variants each burn a fetch slot, calendar traps eat whole host budgets,
and a throttling host keeps getting hit at full rate.

Stage order (each stage's reason to precede the next is stated):

  1. redirect resolution (operators/redirects.py, pointer jumping) —
     candidates pointing INTO a known redirect chain are rewritten to
     their final URL; 'cycle' rows are dropped (a frontier must never
     schedule a login loop). Runs first because every later stage keys
     on the URL the fetcher would actually land on.
  2. canonical collapse (operators/canonical.py mapping) — declared
     rel=canonical targets collapse query-string/mirror variants BEFORE
     dedup, so 100 tracking variants cost one slot (RFC 6596); then
     tracking-parameter stripping (functions/canon.py, on by default)
     collapses the utm-variants no canonical annotation covers.
  3. dedup by final URL keeping the minimal (depth, disc_wave,
     disc_pos) discovery record — same merge rule as
     plans/wave.py expand_outlinks, so hygiene preserves the crawl-order
     determinism contract.
  4. URL-quality filter (operators/urlfilter.py) — blocklist/depth/
     params/digit-slug drops, first-failing-rule verdict kept in the
     output for auditability.
  5. trap-template masking (operators/templates.py) — (host, template)
     groups with >= trap_min_urls members and >= 2 digit/hex slots are
     crawler traps (calendars, session mazes); their members are
     anti-joined out. Mined over the POST-filter set: the blocklist
     already removed mass that would distort template counts.
  6. backoff-fed scheduling (operators/backoff.py + per-host FIFO rank)
     — per-host delay = AIMD-escalated delay for hosts with throttled
     recent waves, base for the rest; sched_ms replays the simulated
     politeness clock of operators/schedule.py with that delay.

Scale shape: stages 1-2 are thin equi-joins on url (the redirect map and
canonical map are crawl metadata, orders of magnitude smaller than the
corpus); stage 3 is one map-side-combinable agg; stage 4 is codegen; the
stage-5 trap table and stage-6 delay table are aggregate-sized and
broadcast. The only frontier-sized shuffles are the dedup agg and the
per-host rank window — both already paid by the plain wave path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from webscraper_spark.operators.backoff import adaptive_backoff
from webscraper_spark.operators.redirects import resolve_redirects
from webscraper_spark.operators.schedule import WAVE_EPOCH_MS
from webscraper_spark.operators.templates import url_template, url_templates
from webscraper_spark.operators.urlfilter import url_filter

_HOST_RE = r"^[a-z]+://([^/:?#]+)"


def hygiene_frontier(
    cand: DataFrame,
    redirect_edges: DataFrame | None = None,
    canonical_map: DataFrame | None = None,
    outcomes: DataFrame | None = None,
    wave: int = 1,
    base_delay_ms: int = 100,
    trap_min_urls: int = 100,
    max_hops: int = 16,
    strip_tracking: bool = True,
) -> DataFrame:
    """Run the hygiene pass over frontier candidates and schedule them.

    cand: (url, host, depth, disc_wave, disc_pos) — plans/wave.py
      frontier rows.
    redirect_edges: (src, dst) known 3xx edges, or None to skip stage 1.
    canonical_map: (url, canonical) declared-canonical mapping (built
      with operators/canonical.canonical_of over fetched pages), or None.
    outcomes: (host, wave, status) recent fetch outcomes for the AIMD
      delay table, or None for flat base_delay_ms.
    strip_tracking: remove tracking query params (functions/canon.py
      strip_tracking_params; never the often-functional `ref`) BEFORE
      dedup, so the 100 utm-variants of one article collapse into its
      fetch slot; with False they stay distinct and surface as
      'keep:strip_tracking' verdicts instead.

    Returns (url, host, depth, disc_wave, disc_pos, verdict, rank,
    delay_ms, sched_ms): the per-host-FIFO schedule of the surviving
    candidates. verdict is 'keep', or 'keep:strip_tracking' when a
    tracking parameter is left in place (strip_tracking=False, or a
    flag-only `ref`); drop rows are gone.
    When redirect_edges is given, the result carries a `_redir_cache`
    release handle (the repo-wide `*_cache` convention).
    """
    out = cand.select("url", "host", "depth", "disc_wave", "disc_pos")
    redir_cache = None
    if redirect_edges is not None:
        res = resolve_redirects(redirect_edges, max_hops=max_hops)
        redir_cache = res._redir_cache
        out = (
            out.join(
                res.select(F.col("src").alias("url"), "final", "status"),
                "url",
                "left",
            )
            .filter(F.coalesce(F.col("status"), F.lit("resolved")) != "cycle")
            .withColumn("url", F.coalesce(F.col("final"), F.col("url")))
            .drop("final", "status")
        )
    if canonical_map is not None:
        out = (
            out.join(canonical_map.select("url", "canonical"), "url", "left")
            .withColumn("url", F.coalesce(F.col("canonical"), F.col("url")))
            .drop("canonical")
        )
    if strip_tracking:
        from webscraper_spark.functions.canon import strip_tracking_params

        out = out.withColumn("url", strip_tracking_params(F.col("url")))
    # Rewrites may have moved a candidate across hosts (cross-host
    # canonical/redirect): recompute, then dedup by final URL with the
    # expand_outlinks merge rule (min discovery record -> deterministic).
    out = (
        out.withColumn("host", F.regexp_extract("url", _HOST_RE, 1))
        .groupBy("url")
        .agg(
            F.min(F.struct("depth", "disc_wave", "disc_pos")).alias("m"),
            F.max("host").alias("host"),
        )
        .select(
            "url",
            "host",
            F.col("m.depth").alias("fdepth"),
            F.col("m.disc_wave").alias("disc_wave"),
            F.col("m.disc_pos").alias("disc_pos"),
        )
    )
    # url_filter appends its own path-`depth` feature column — the
    # frontier depth travels as fdepth around it.
    kept = (
        url_filter(out)
        .filter(F.col("verdict").startswith("keep"))
        .select("url", "host", "fdepth", "disc_wave", "disc_pos", "verdict")
    )
    traps = (
        url_templates(kept, trap_min_urls=trap_min_urls)
        .filter(F.col("is_trap"))
        .select("host", "template")
    )
    kept = (
        kept.withColumn("template", url_template(F.col("url")))
        .join(F.broadcast(traps), ["host", "template"], "left_anti")
        .drop("template")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("fdepth").asc(), F.col("disc_wave").asc(), F.col("disc_pos").asc(), F.col("url").asc()
    )
    ranked = kept.withColumn("rank", F.row_number().over(w))
    if outcomes is not None:
        delays = adaptive_backoff(outcomes, base_delay_ms=base_delay_ms).select(
            "host", "delay_ms"
        )
        ranked = ranked.join(F.broadcast(delays), "host", "left").withColumn(
            "delay_ms", F.coalesce(F.col("delay_ms"), F.lit(base_delay_ms).cast("long"))
        )
    else:
        ranked = ranked.withColumn("delay_ms", F.lit(base_delay_ms).cast("long"))
    sched = ranked.select(
        "url",
        "host",
        F.col("fdepth").alias("depth"),
        "disc_wave",
        "disc_pos",
        "verdict",
        "rank",
        "delay_ms",
        (
            F.lit(wave).cast("long") * WAVE_EPOCH_MS
            + (F.col("rank") - 1).cast("long") * F.col("delay_ms")
        ).alias("sched_ms"),
    )
    if redir_cache is not None:
        sched._redir_cache = redir_cache
    return sched
