"""Sitemap XML parsing: URL discovery for the crawl frontier.

Sitemaps (sitemaps.org protocol, referenced by RFC 9309's Sitemap field)
are the crawl scheduler's second discovery channel next to outlink
harvest: a host publishes <urlset> documents (or <sitemapindex> documents
pointing at more sitemaps) listing canonical URLs with optional lastmod /
changefreq / priority hints, which sitemap_refetch turns into recrawl
decisions. The reference app has no sitemap handling (it crawls two
fixed sites); this extends the beyond-reference crawl family (SURVEY
§2.1 S11).

Parsing is pure codegen column work — `regexp_extract_all` over the XML
body, then explode — so it distributes over millions of sitemap bodies
with no Python in the hot path, and is ANSI-replayable for the
correctness gate (DuckDB has the same regexp_extract_all). This is a
deliberate regex-not-XML-parser design: the sitemap protocol pins the
element vocabulary, real crawlers (and this operator) must survive the
malformed XML the web actually serves, and a per-row XML DOM parse would
be a Python UDF in the hottest path. Elements may span lines; the regexes
use (?s) dotall groups bounded by the closing tag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_URL_BLOCK = r"(?s)<url>(.*?)</url>"
_SITEMAP_BLOCK = r"(?s)<sitemap>(.*?)</sitemap>"
_LOC = r"(?s)<loc>\s*(.*?)\s*</loc>"
_LASTMOD = r"(?s)<lastmod>\s*(.*?)\s*</lastmod>"
_CHANGEFREQ = r"(?s)<changefreq>\s*(.*?)\s*</changefreq>"
_PRIORITY = r"(?s)<priority>\s*(.*?)\s*</priority>"


def parse_sitemap(
    sitemaps: DataFrame, xml_col: str = "sitemap_xml", host_col: str = "host"
) -> DataFrame:
    """Parse <urlset> bodies into one row per <url> entry.

    Output: (host, loc, lastmod timestamp, changefreq, priority double,
    entry_pos) — missing optional elements are null; entry_pos is the
    0-based position of the entry within its sitemap (document order is
    meaningful for some publishers and keeps downstream sorts
    deterministic)."""
    blocks = sitemaps.select(
        F.col(host_col).alias("host"),
        F.posexplode_outer(
            F.regexp_extract_all(F.col(xml_col), F.lit(_URL_BLOCK), 1)
        ).alias("entry_pos", "block"),
    ).filter(F.col("block").isNotNull())
    nullif = lambda c: F.when(c == "", None).otherwise(c)  # noqa: E731
    return blocks.select(
        "host",
        nullif(F.regexp_extract("block", _LOC, 1)).alias("loc"),
        nullif(F.regexp_extract("block", _LASTMOD, 1)).cast("timestamp").alias("lastmod"),
        nullif(F.regexp_extract("block", _CHANGEFREQ, 1)).alias("changefreq"),
        nullif(F.regexp_extract("block", _PRIORITY, 1)).cast("double").alias("priority"),
        F.col("entry_pos").cast("long").alias("entry_pos"),
    ).filter(F.col("loc").isNotNull())


def parse_sitemap_index(
    sitemaps: DataFrame, xml_col: str = "sitemap_xml", host_col: str = "host"
) -> DataFrame:
    """Parse <sitemapindex> bodies into one row per child sitemap:
    (host, loc, lastmod). The caller fetches the children and feeds them
    back through parse_sitemap — index recursion is a frontier concern
    (a wave loop), not an operator concern, same as pagination S3."""
    blocks = sitemaps.select(
        F.col(host_col).alias("host"),
        F.explode(F.regexp_extract_all(F.col(xml_col), F.lit(_SITEMAP_BLOCK), 1)).alias("block"),
    )
    nullif = lambda c: F.when(c == "", None).otherwise(c)  # noqa: E731
    return blocks.select(
        "host",
        nullif(F.regexp_extract("block", _LOC, 1)).alias("loc"),
        nullif(F.regexp_extract("block", _LASTMOD, 1)).cast("timestamp").alias("lastmod"),
    ).filter(F.col("loc").isNotNull())


def sitemap_frontier_candidates(
    entries: DataFrame, seen: DataFrame, default_priority: float = 0.5
) -> DataFrame:
    """Join parsed sitemap entries against the URL-seen set (left_anti,
    same contract as operators/seen.py) and emit frontier candidates
    ordered by (priority desc, lastmod desc) per host — the discovery-side
    complement of outlink expansion."""
    from pyspark.sql import Window

    cand = entries.join(
        seen.select(F.col("url").alias("loc")), "loc", "left_anti"
    ).select(
        "host",
        F.col("loc").alias("url"),
        F.coalesce("priority", F.lit(default_priority)).alias("priority"),
        "lastmod",
    )
    w = Window.partitionBy("host").orderBy(
        F.desc("priority"), F.desc_nulls_last("lastmod"), F.asc("url")
    )
    return cand.withColumn("host_rank", F.row_number().over(w))


# sitemaps.org <changefreq> values as refresh intervals (ms). 'always'
# means every visit; 'never' means archival (still re-checked on lastmod
# evidence, per the spec's own caveat that crawlers may ignore hints).
CHANGEFREQ_MS = {
    "always": 0,
    "hourly": 3_600_000,
    "daily": 86_400_000,
    "weekly": 604_800_000,
    "monthly": 2_592_000_000,
    "yearly": 31_536_000_000,
}


def sitemap_refetch(
    entries: DataFrame, crawled: DataFrame, as_of: str
) -> DataFrame:
    """Classify sitemap entries against the crawl record into refetch
    states from the publisher's Sitemaps-protocol hints.

    entries: parse_sitemap output (host, loc, lastmod, changefreq,
      priority, ...). crawled: (url, fetched_ts) last-success record.
    as_of: the decision instant as a timestamp string — EXPLICIT, never
      wall clock, so runs replay bit-identically.

    States, first match wins:
      uncrawled — no crawl row: a coverage gap (J5's 'gap' bucket), top
        priority;
      stale     — publisher said the page changed after we fetched it
        (lastmod > fetched_ts): hard evidence, refetch;
      due       — no usable lastmod but changefreq's interval has
        elapsed since the fetch: soft evidence;
      fresh     — everything else ('never' included).

    All-integer (unix millis) comparisons; one left join, entry-table
    sized — the crawl record side is the big one and arrives pre-keyed
    by url, so at scale this is the thin-side broadcast/bucket join the
    seen-set already does."""
    iv = F.create_map(
        *[F.lit(x) for kv in CHANGEFREQ_MS.items() for x in kv]
    )[F.col("changefreq")]
    j = entries.join(
        crawled.select(F.col("url").alias("loc"), "fetched_ts"), "loc", "left"
    )
    lastmod_ms = F.unix_millis(F.col("lastmod"))
    fetched_ms = F.unix_millis(F.col("fetched_ts"))
    asof_ms = F.unix_millis(F.lit(as_of).cast("timestamp"))
    state = (
        F.when(F.col("fetched_ts").isNull(), F.lit("uncrawled"))
        .when(F.col("lastmod").isNotNull() & (lastmod_ms > fetched_ms), F.lit("stale"))
        # a lastmod OLDER than the fetch is hard not-changed evidence and
        # suppresses the weaker changefreq hint (docstring contract)
        .when(
            F.col("lastmod").isNull() & iv.isNotNull() & (fetched_ms + iv <= asof_ms),
            F.lit("due"),
        )
        .otherwise(F.lit("fresh"))
    )
    return j.select(
        "loc",
        "host",
        state.alias("state"),
        "lastmod",
        "fetched_ts",
        F.coalesce(F.col("priority"), F.lit(0.5)).alias("priority"),
    )
