r"""Declared-charset sniffing and per-host encoding report.

Common-Crawl-scale HTML is ~5% non-UTF-8 (WHATWG's own telemetry), and
every downstream text operator in this engine (extraction, link
harvest) assumes decoded UTF-8 — so the pipeline needs a router that
reads each page's DECLARED encoding and sends non-UTF-8 pages to a
transcode lane before extraction, exactly like mime.py routes by magic
bytes. The reference never meets the problem (Selenium hands it decoded
DOM text); a batch engine reading raw WARC payloads meets it on every
page.

Detection follows the WHATWG encoding-sniffing precedence for the
in-document signals (the real algorithm also consults BOM and
Content-Type header first — BOM lives on the binary payload and is
mime.py's territory; the header column can be coalesced in by callers):

  1. XML declaration  <?xml version="1.0" encoding="X"?>
  2. <meta charset="X">
  3. <meta http-equiv="Content-Type" content="text/html; charset=X">
  4. HTML5 default: utf-8

All four stages are codegen regexp_extract + CASE (no UDF); the charset
token is lowercased and the '"'/'\'' quoting variants are handled by
the character classes. needs_transcode = not (utf-8 / us-ascii — ASCII
is a UTF-8 subset). The DuckDB oracle replays the same regex chain.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

XML_DECL = r"""<\?xml[^>]*encoding=["']([A-Za-z0-9_.:-]+)["']"""
# charset may appear at ANY attribute position (<meta id="e" charset=...>
# is valid HTML5), but a looser `<meta[^>]*charset=` also matched
# 'charset=big5' INSIDE a content="..." description text and routed valid
# UTF-8 pages to the transcode lane (code-review catch).  The guard: the
# text between '<meta' and the charset attribute must consist of
# non-quote characters or COMPLETE quoted strings — a charset= inside an
# unterminated quote can never match, so quoted attribute VALUES are
# skipped as opaque units while real attribute positions stay reachable.
# RE2-safe (no lookaround), so the DuckDB oracle replays it verbatim.
# Content-Type declarations are HTTP_EQUIV's job.
META_CHARSET = r"""<meta(?:[^>"']|"[^"]*"|'[^']*')*?\scharset\s*=\s*["']?([A-Za-z0-9_.:-]+)"""
HTTP_EQUIV = r"""<meta[^>]*http-equiv=["']?content-type["']?[^>]*charset=([A-Za-z0-9_.:-]+)"""
# Attribute order is free in HTML; the reversed emission
# <meta content="text/html; charset=X" http-equiv="content-type"> needs
# its own alternation because RE2 (the oracle's engine) has no lookahead
# to express order-free matching in one pattern.
HTTP_EQUIV_REV = r"""<meta[^>]*charset=([A-Za-z0-9_.:-]+)[^>]*http-equiv=["']?content-type"""

UTF8_FAMILY = ("utf-8", "us-ascii")


def declared_charset(html: Column) -> Column:
    """The page's declared charset (lowercased), 'utf-8' when silent.

    All three regexes run over the lowercased document, so <META
    CHARSET=...> and mixed-case attribute quoting sniff identically in
    every engine."""
    low = F.lower(html)
    xml = F.nullif(F.regexp_extract(low, XML_DECL, 1), F.lit(""))
    meta = F.nullif(F.regexp_extract(low, META_CHARSET, 1), F.lit(""))
    equiv = F.nullif(F.regexp_extract(low, HTTP_EQUIV, 1), F.lit(""))
    equiv_rev = F.nullif(F.regexp_extract(low, HTTP_EQUIV_REV, 1), F.lit(""))
    return F.coalesce(xml, meta, equiv, equiv_rev, F.lit("utf-8"))


def bom_charset(payload) -> Column:
    """Charset from a byte-order mark on the RAW payload, null when none.

    The WHATWG encoding sniffer's FIRST stage — a BOM overrides every
    in-document declaration. Checked on the hex of the leading 3 bytes
    (the mime.py pattern: never decode arbitrary bytes). UTF-32 BOMs
    (FF FE 00 00 / 00 00 FE FF) are not distinguished — UTF-32 web
    content is effectively nonexistent and WHATWG's own sniffer also
    maps FF FE to UTF-16LE."""
    col = payload if isinstance(payload, Column) else F.col(payload)
    hx = F.hex(F.substring(col, 1, 3))
    return (
        F.when(F.substring(hx, 1, 6) == "EFBBBF", F.lit("utf-8"))
        .when(F.substring(hx, 1, 4) == "FEFF", F.lit("utf-16be"))
        .when(F.substring(hx, 1, 4) == "FFFE", F.lit("utf-16le"))
    )


def sniffed_charset(payload, html: Column) -> Column:
    """Full sniff over (raw payload, decoded html): BOM first (WHATWG
    precedence), then the in-document declaration chain, then the HTML5
    utf-8 default (via declared_charset)."""
    return F.coalesce(bom_charset(payload), declared_charset(html))


def charset_report(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """Per-(host, charset) page counts with a transcode-lane flag.

    One narrow projection + one map-side-combinable aggregate; the
    result is host-cardinality-sized however big the page table is.
    """
    host = F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/:?#]+)", 1)
    cs = declared_charset(F.col(html_col))
    return (
        pages.select(host.alias("host"), cs.alias("charset"))
        .groupBy("host", "charset")
        .agg(F.count("*").alias("n_pages"))
        .withColumn("needs_transcode", ~F.col("charset").isin(*UTF8_FAMILY))
    )
