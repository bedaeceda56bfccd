r"""rel=canonical link collapse.

Web pages declare their preferred URL with
`<link rel="canonical" href="...">`; a crawl frontier that treats the
declared canonical as the dedup key collapses query-string variants,
session URLs, and mirror paths BEFORE content hashing ever runs —
Google's own dedup pipeline consumes this signal first (Ohye &
Kupke, RFC 6596). The reference app never needs it (it crawls two
hand-picked sites); at 10^10-URL scale the collapse is a prerequisite
for honest frontier accounting: 100 tracking-param variants of one
article must cost one fetch-slot, not 100.

Mechanism (all codegen, no HTML parser): grab the first
`<link ...rel="canonical"...>` tag with one regex (attribute order
free — the tag is matched first, href extracted from the tag second),
fall back to the page's own URL when absent or empty (a page without
the annotation is its own canonical, RFC 6596 §3). Group by canonical
target: member count, a deterministic representative (min url), and a
cross-host member count — a canonical pointing off-host is either a
legitimate mirror consolidation or a hijack attempt (Gyongyi &
Garcia-Molina's spam taxonomy); either way the scheduler wants it
flagged, not silently merged.

One map-side-combinable aggregate; the DuckDB oracle replays both
regexes verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (?i) + ["']? make tag/attribute case and quote style free while the
# extracted href keeps its original case (URL paths are case-sensitive —
# the reason this matches case-insensitively via regex flag instead of
# lowercasing the document the way charset.py can).  RE2-safe, so the
# DuckDB oracle replays both regexes verbatim.
CANON_TAG = r"""(?i)<link\b[^>]*\brel\s*=\s*["']?canonical\b[^>]*/?>"""
# The closing quote matches the opening one, so a double-quoted href keeps
# an apostrophe (/o'brien) and vice versa; exactly one group participates.
HREF_IN_TAG = r"""(?i)\bhref\s*=\s*(?:"([^"]*)"|'([^']*)')"""
_HOST = r"^[a-z]+://([^/:?#]+)"


def href_in_tag(tag: Column) -> Column:
    """The tag's quoted href value: the two quote-style groups coalesced
    (a non-participating group extracts as '')."""
    return F.concat(F.regexp_extract(tag, HREF_IN_TAG, 1), F.regexp_extract(tag, HREF_IN_TAG, 2))


def canonical_of(url: Column, html: Column) -> Column:
    """The page's canonical URL: declared href, else the URL itself.

    RFC 6596 allows relative hrefs; root-relative ones ('/index') are
    resolved against the page's own origin — without this, pages on
    DIFFERENT hosts declaring the same relative path would collapse
    into one cluster keyed by the raw path and be flagged cross-host.
    Non-absolute, non-root-relative hrefs (dot-relative, garbage) fall
    back to self-canonical — the conservative read for a dedup key."""
    tag = F.regexp_extract(html, CANON_TAG, 0)
    href = href_in_tag(tag)
    origin = F.regexp_extract(url, r"^([a-z]+://[^/?#]+)", 1)
    return (
        F.when(href.rlike(r"^[a-z]+://"), href)
        .when(href.startswith("/"), F.concat(origin, href))
        .otherwise(url)
    )


def canonical_clusters(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Collapse pages to (canonical, n_members, representative,
    n_cross_host) clusters. `html_col` must be a string column (decode
    binary WARC payloads first)."""
    url, html = F.col(url_col), F.col(html_col)
    canon = canonical_of(url, html)
    t = pages.select(
        canon.alias("canonical"),
        url.alias("_u"),
        (
            F.regexp_extract(url, _HOST, 1) != F.regexp_extract(canon, _HOST, 1)
        ).cast("long").alias("_x"),
    )
    return t.groupBy("canonical").agg(
        F.count("*").alias("n_members"),
        F.min("_u").alias("representative"),
        F.sum("_x").alias("n_cross_host"),
    )
