r"""MIME sniffing from payload magic bytes (binary columns, codegen).

A fetched-payload corpus routes each record by its real content type,
not the server's Content-Type header (which lies often enough that the
WHATWG standardized sniffing): HTML to extraction, images, PDFs and
archives to their own lanes, junk to quarantine.
The reference only ever sees
browser-rendered HTML (`/root/reference/app/controllers/
cars_controller.rb:131` — Capybara `visit`), so sniffing is engine
scope: S14 in SURVEY §2.1.

Signature subset (the unambiguous leading-bytes core of the public
WHATWG/`file(1)` tables):

  FF D8 FF            image/jpeg        89 50 4E 47  image/png
  47 49 46 38         image/gif         25 50 44 46  application/pdf
  50 4B 03 04         application/zip   1F 8B        application/gzip
  '<' after optional whitespace (incl. '<!doctype'/'<html') text/html
  otherwise           application/octet-stream

Scale notes: one `hex(substring(payload, 1, 8))` per row and a CASE
chain — pure whole-stage codegen, fused into the scan, no UDF and no
copy of the payload (substring on binary takes a prefix). DuckDB
replays the same hex-prefix compares, so verdicts are oracle-checked
byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MAGIC = [
    ("FFD8FF", "image/jpeg"),
    ("89504E47", "image/png"),
    ("47494638", "image/gif"),
    ("25504446", "application/pdf"),
    ("504B0304", "application/zip"),
    ("1F8B", "application/gzip"),
]


def sniff_mime(payload) -> Column:
    """MIME label for a binary payload column, from leading magic bytes."""
    col = payload if isinstance(payload, Column) else F.col(payload)
    hx = F.hex(F.substring(col, 1, 8))
    expr = None
    for magic, label in _MAGIC:
        cond = F.substring(hx, 1, len(magic)) == magic
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    # HTML: optional ASCII whitespace then '<'. Checked on the HEX string
    # (20/09/0A/0D then 3C), never by decoding the payload — decode() on
    # arbitrary binary raises under ANSI mode for malformed sequences,
    # and a sniffer must accept any bytes. 64-byte prefix = 128 hex chars.
    hx64 = F.hex(F.substring(col, 1, 64))
    is_html = F.regexp_count(hx64, F.lit(r"^(20|09|0A|0D)*3C")) > 0
    return expr.when(is_html, F.lit("text/html")).otherwise(
        F.lit("application/octet-stream")
    )


def route_by_mime(records: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Append `mime` and the processing `lane` each record routes to:
    image -> multimodal decode, text/html -> extraction,
    pdf/zip/gzip -> archive expansion, else quarantine."""
    d = records.withColumn("mime", sniff_mime(F.col(payload_col)))
    lane = (
        F.when(F.col("mime").startswith("image/"), F.lit("multimodal"))
        .when(F.col("mime") == "text/html", F.lit("extract"))
        .when(
            F.col("mime").isin("application/pdf", "application/zip", "application/gzip"),
            F.lit("archive"),
        )
        .otherwise(F.lit("quarantine"))
    )
    return d.withColumn("lane", lane)
