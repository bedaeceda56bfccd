r"""hreflang alternate-link clustering and reciprocity validation.

Multilingual sites declare their language editions with
`<link rel="alternate" hreflang="xx" href="...">`; crawl pipelines use
the declared graph to (a) group editions of one logical page so corpus
language mixing is deliberate rather than accidental duplication, and
(b) validate RECIPROCITY — Google's own documentation makes
bidirectional annotation the correctness condition (if A lists B as
its 'de' edition, B must list A back; one-way annotations are the
single most common hreflang deployment bug and a hijack vector, since
anyone can claim any URL as their alternate).

Two outputs:
- `hreflang_edges`: (url, lang, alt_url) — one row per declared
  alternate, extracted with a codegen regexp_extract_all over the raw
  HTML (no parser).
- `hreflang_clusters`: per declaring URL: edition count, distinct
  languages, reciprocal count, and `all_reciprocal` — the deploy-bug
  flag. Reciprocity is one swapped-key self-join on (url, alt_url).

The x-default pseudo-language is kept as a normal entry ('x-default'
is what the attribute literally says; routing treats it as the
fallback edition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webscraper_spark.operators.canonical import href_in_tag

# Two-step matching (tag first, attributes second — the canonical.py
# pattern) so attribute ORDER is free; (?i) + ["']? makes case and quote
# style free too.  The regexes (href: canonical.py's quote-matched
# HREF_IN_TAG) are RE2-safe so the DuckDB oracle replays them verbatim.  `\brel\s*=\s*["']?alternate` also matches
# rel="alternate stylesheet" tags — those carry no hreflang attribute and
# are dropped by the lang!='' filter below.
LINK_ALT_TAG = r"""(?i)<link\b[^>]*\brel\s*=\s*["']?alternate\b[^>]*>"""
LANG_IN_TAG = r"""(?i)\bhreflang\s*=\s*["']?([a-zA-Z0-9-]+)"""


def hreflang_edges(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, lang, alt_url) per declared alternate.

    Matching contract: attribute order free (rel/hreflang/href in any
    order), attribute names and the rel value case-insensitive, both
    quote styles accepted (href must be quoted — an unquoted URL value
    is a parse ambiguity this extractor refuses to guess at); href case
    is PRESERVED (URL paths are case-sensitive).  Self-referencing
    alternates are kept (the spec REQUIRES a page to list itself among
    its alternates)."""
    tags = F.regexp_extract_all(F.col(html_col), F.lit(LINK_ALT_TAG), 0)
    t = pages.select(F.col(url_col).alias("url"), F.explode(tags).alias("tag"))
    return t.select(
        "url",
        F.lower(F.regexp_extract("tag", LANG_IN_TAG, 1)).alias("lang"),
        href_in_tag(F.col("tag")).alias("alt_url"),
    ).filter((F.col("lang") != "") & (F.col("alt_url") != ""))


def hreflang_clusters(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per declaring URL: (url, n_alternates, n_langs, n_reciprocal,
    all_reciprocal). A declared alternate (lang, alt_url) is reciprocal
    when the target page declares ANY alternate pointing back — the
    language-agnostic back-edge. That is deliberately the check: a
    same-language back-edge would be WRONG (if A lists B as its 'de'
    edition, B's back-edge to A carries A's language, e.g. 'en', so a
    lang-equality join would flag every correctly-deployed cluster);
    the label-consistency refinement (does B self-identify under the
    lang A claimed for it?) needs B's self-edge and belongs to a site
    auditor, not the crawl-dedup gate. Reciprocity is counted over the
    SAME (lang, alt_url) rows n_alternates counts, so a URL declared
    under several hreflang values (the standard en + x-default pattern)
    contributes one reciprocal row per declaration and cannot
    false-flag all_reciprocal. Self-edges count as reciprocal by
    construction."""
    e = hreflang_edges(pages, url_col, html_col).distinct()
    back = e.select(F.col("alt_url").alias("url"), F.col("url").alias("alt_url")).distinct()
    recip = e.join(back, ["url", "alt_url"], "left_semi")  # keeps lang rows
    agg = e.groupBy("url").agg(
        F.count("*").alias("n_alternates"),
        F.countDistinct("lang").alias("n_langs"),
    )
    rc = recip.groupBy("url").agg(F.count("*").alias("n_reciprocal"))
    return (
        agg.join(rc, "url", "left")
        .select(
            "url",
            "n_alternates",
            "n_langs",
            F.coalesce("n_reciprocal", F.lit(0)).cast("long").alias("n_reciprocal"),
            (F.coalesce("n_reciprocal", F.lit(0)) == F.col("n_alternates")).alias("all_reciprocal"),
        )
    )
