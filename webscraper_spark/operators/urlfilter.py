r"""URL-level quality filtering (C4 / RefinedWeb-style, pre-fetch).

Web-corpus pipelines drop documents on URL evidence alone — before
paying for a fetch or a parse: blocklisted keywords in the host or path
(the public UT1/"bad words" approach used by C4 and RefinedWeb),
tracking-parameter clutter, excessive path depth, and digit-heavy
auto-generated slugs. The reference crawls a hand-curated seed list and
has no URL hygiene at all (every harvested href is visited —
`/root/reference/app/controllers/cars_controller.rb:137-142`); at
corpus scale the filter IS the crawl-budget guard. This is L35 in
SURVEY §2.10. The crawl (plans/wave.py) does not apply it; the
`url_filter` registry query is its only caller.

Design: every feature is a codegen expression over the raw URL string —
no UDF, no parse tree. Integer arithmetic only (digit-density compares
via cross-multiplication), so the DuckDB oracle replays verdicts
bit-for-bit. First-failing-rule verdict string: one filter() on
`verdict = 'keep'` drives the frontier, and the per-rule breakdown stays
auditable.

Scale notes: a narrow projection — no shuffle, no join; runs fused into
whatever scan feeds it. The blocklist lives in ONE compiled regex
alternation (Spark compiles it per task, not per row); at a real UT1
scale (~4M entries) the alternation becomes a broadcast join against an
exploded host-token table instead — the keyword table here is the
documented small-list fast path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Small, neutral stand-in for the UT1-style blocklist (the public lists
# ship millions of entries; the operator only needs the mechanism).
BLOCK_KEYWORDS = ("casino", "viagra", "warez", "phishing", "malware")

MAX_DEPTH = 8          # path segments
MAX_PARAMS = 6         # query parameters
DIGIT_NUM, DIGIT_DEN = 1, 2   # drop if digits/chars > 1/2 in the last path slug
TRACKING_RE = r"(^|&)(utm_[a-z]+|gclid|fbclid|ref|mc_eid)="


def url_features(url) -> Column:
    """Struct of integer/boolean URL-quality features, all codegen."""
    u = F.lower(url if isinstance(url, Column) else F.col(url))
    rest = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    hostpath = F.regexp_extract(rest, r"^([^?#]*)", 1)
    query = F.regexp_extract(rest, r"\?([^#]*)", 1)
    path = F.regexp_replace(hostpath, r"^[^/]*", "")
    slug = F.regexp_extract(path, r"([^/]*)$", 1)
    slug_digits = F.length(F.regexp_replace(slug, r"[^0-9]", ""))
    depth = F.size(F.split(path, "/")) - 1  # '' first element for leading /
    n_params = F.when(query == "", F.lit(0)).otherwise(F.size(F.split(query, "&")))
    block_re = "(" + "|".join(BLOCK_KEYWORDS) + ")"
    return F.struct(
        depth.cast("int").alias("depth"),
        n_params.cast("int").alias("n_params"),
        F.length(slug).cast("int").alias("slug_len"),
        slug_digits.cast("int").alias("slug_digits"),
        (F.regexp_count(query, F.lit(TRACKING_RE)) > 0).alias("has_tracking"),
        (F.regexp_count(hostpath, F.lit(block_re)) > 0).alias("blocked_kw"),
    )


def url_filter(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Append URL-quality features + first-failing-rule verdict.

    Rule order (first hit names the verdict, `keep` otherwise):
      blocked_kw -> 'drop:blocklist'
      depth > MAX_DEPTH -> 'drop:depth'
      n_params > MAX_PARAMS -> 'drop:params'
      slug digit density > DIGIT_NUM/DIGIT_DEN (cross-multiplied,
        slugs shorter than 4 chars exempt) -> 'drop:digits'
      has_tracking -> 'keep:strip_tracking' (kept; a flag only, nothing
        strips the parameters — tracking params alone are not a drop)
    """
    f = url_features(F.col(url_col))
    d = urls.withColumn("uf", f)
    verdict = (
        F.when(F.col("uf.blocked_kw"), F.lit("drop:blocklist"))
        .when(F.col("uf.depth") > MAX_DEPTH, F.lit("drop:depth"))
        .when(F.col("uf.n_params") > MAX_PARAMS, F.lit("drop:params"))
        .when(
            (F.col("uf.slug_len") >= 4)
            & (F.col("uf.slug_digits") * DIGIT_DEN > F.col("uf.slug_len") * DIGIT_NUM),
            F.lit("drop:digits"),
        )
        .when(F.col("uf.has_tracking"), F.lit("keep:strip_tracking"))
        .otherwise(F.lit("keep"))
    )
    return d.select(
        *urls.columns,
        F.col("uf.depth").alias("depth"),
        F.col("uf.n_params").alias("n_params"),
        F.col("uf.slug_len").alias("slug_len"),
        F.col("uf.slug_digits").alias("slug_digits"),
        F.col("uf.has_tracking").alias("has_tracking"),
        F.col("uf.blocked_kw").alias("blocked_kw"),
        verdict.alias("verdict"),
    )
