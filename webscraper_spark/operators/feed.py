"""RSS 2.0 / Atom feed parsing: the third URL-discovery channel.

News-heavy crawls discover fresh URLs from feeds faster than from
sitemaps (publishers update feeds within seconds of posting; Google's
"feedfetcher" and Common Crawl's news crawl both work this way). A feed
entry also carries its publication timestamp. The reference app has no
feed handling; this is S15 in SURVEY §2.1, the sibling of the sitemap
source (S11) with the same design rules: pure-codegen
`regexp_extract_all` + explode (no Python, survives malformed XML,
DuckDB-replayable), elements bounded by closing tags with (?s) dotall.

Both dialects in one pass: RSS wraps entries in <item> with <link>text
</link>; Atom wraps them in <entry> with <link href="..."/> and
<updated>. A feed document is parsed with both block regexes; a row's
`dialect` column records which one produced it (real feeds are one or
the other; a document matching neither yields no rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ITEM_BLOCK = r"(?s)<item>(.*?)</item>"
_ENTRY_BLOCK = r"(?s)<entry>(.*?)</entry>"
_TITLE = r"(?s)<title>\s*(.*?)\s*</title>"
_RSS_LINK = r"(?s)<link>\s*(.*?)\s*</link>"
_ATOM_LINK = r'(?s)<link[^>]*href="([^"]*)"'
_PUBDATE = r"(?s)<pubDate>\s*(.*?)\s*</pubDate>"
_UPDATED = r"(?s)<updated>\s*(.*?)\s*</updated>"
_GUID = r"(?s)<guid[^>]*>\s*(.*?)\s*</guid>"
_ATOM_ID = r"(?s)<id>\s*(.*?)\s*</id>"


def parse_feed(feeds: DataFrame, xml_col: str = "feed_xml", host_col: str = "host") -> DataFrame:
    """Feed bodies -> one row per item/entry:
    (host, dialect, link, title, guid, published string, entry_pos).

    `published` stays a string: RSS pubDate is RFC 822 ("Mon, 02 Jan
    2026 15:04:05 GMT") and Atom updated is ISO 8601 — parsing to
    timestamp is locale/format policy the caller owns. entry_pos is
    document order within the feed, per dialect."""
    nullif = lambda c: F.when(c == "", None).otherwise(c)  # noqa: E731

    def _one(dialect: str, block_re: str, link_re: str, ts_re: str, id_re: str) -> DataFrame:
        blocks = feeds.select(
            F.col(host_col).alias("host"),
            F.posexplode_outer(
                F.regexp_extract_all(F.col(xml_col), F.lit(block_re), 1)
            ).alias("entry_pos", "block"),
        ).filter(F.col("block").isNotNull())
        return blocks.select(
            "host",
            F.lit(dialect).alias("dialect"),
            nullif(F.regexp_extract("block", link_re, 1)).alias("link"),
            nullif(F.regexp_extract("block", _TITLE, 1)).alias("title"),
            nullif(F.regexp_extract("block", id_re, 1)).alias("guid"),
            nullif(F.regexp_extract("block", ts_re, 1)).alias("published"),
            F.col("entry_pos").cast("long").alias("entry_pos"),
        ).filter(F.col("link").isNotNull())

    rss = _one("rss", _ITEM_BLOCK, _RSS_LINK, _PUBDATE, _GUID)
    atom = _one("atom", _ENTRY_BLOCK, _ATOM_LINK, _UPDATED, _ATOM_ID)
    return rss.unionByName(atom)
