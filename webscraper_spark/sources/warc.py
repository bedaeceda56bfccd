r"""WARC source: parse ISO 28500 web-archive records into page rows.

Common-Crawl-style corpora (the north_rule input) ship as WARC files:
concatenated records, each a header block (WARC/1.0 version line +
name:value headers, CRLF-delimited) followed by a Content-Length-framed
payload and a CRLF CRLF trailer. Correct parsing MUST honor
Content-Length — payloads legally contain "\r\n\r\nWARC/1.0" look-alikes,
so splitting on the record separator is wrong (the round-trip test plants
exactly that decoy). The reference app fetches live pages with a browser
and has no archive ingestion; this is the S12 source row (SURVEY §2.1).

Spark shape: one input row per WARC file blob (binary), `mapInPandas`
with an Arrow-batched Python parser — the sanctioned slow path for
byte-format decoding: the
per-record work is a memoryview slice walk, a few hundred ns/record, and
the unit of parallelism is the file, matching how WARC archives shard at
petabyte scale (thousands of ~1 GB files). Synthesis (`build_warc`) is
the exact inverse, used to round-trip the synthetic corpus through the
format.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_CRLF = b"\r\n"
_SEP = b"\r\n\r\n"

WARC_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("warc_file_id", T.LongType()),
        T.StructField("rec_pos", T.LongType()),
        T.StructField("rec_type", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def parse_warc_records(blob: bytes) -> list[tuple[int, str, str, str, bytes]]:
    """Walk one WARC file: returns (rec_pos, rec_type, url, date, payload)
    tuples. Malformed trailing bytes stop the walk (partial final records
    are dropped, the standard archive-reader behavior)."""
    out = []
    mv = memoryview(blob)
    i, pos = 0, 0
    n = len(blob)
    while i < n:
        if not blob.startswith(b"WARC/", i):
            break
        hdr_end = blob.find(_SEP, i)
        if hdr_end < 0:
            break
        headers = {}
        for line in bytes(mv[i:hdr_end]).split(_CRLF)[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers[b"content-length"])
        except (KeyError, ValueError):
            break
        body_start = hdr_end + len(_SEP)
        body_end = body_start + length
        if body_end + len(_SEP) > n:
            break
        out.append(
            (
                pos,
                headers.get(b"warc-type", b"").decode("utf-8", "replace"),
                headers.get(b"warc-target-uri", b"").decode("utf-8", "replace"),
                headers.get(b"warc-date", b"").decode("utf-8", "replace"),
                bytes(mv[body_start:body_end]),
            )
        )
        pos += 1
        i = body_end + len(_SEP)
    return out


def read_warc(warc_files: DataFrame, file_id_col: str = "warc_file_id", blob_col: str = "warc") -> DataFrame:
    """(file_id, warc binary) -> one row per record (WARC_RECORD_SCHEMA)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for fid, blob in zip(b[file_id_col], b[blob_col]):
                if blob is None:
                    continue
                for pos, rtype, url, date, payload in parse_warc_records(bytes(blob)):
                    rows.append((fid, pos, rtype, url, date, payload))
            yield pd.DataFrame(
                rows, columns=[f.name for f in WARC_RECORD_SCHEMA.fields]
            )

    return warc_files.select(file_id_col, blob_col).mapInPandas(gen, WARC_RECORD_SCHEMA)


def build_warc(
    pages: DataFrame,
    file_key,
    url_col: str = "url",
    date_col: str = "warc_date",
    payload_col: str = "payload",
) -> DataFrame:
    """Inverse of read_warc: pack page rows into one WARC blob per
    `file_key` group (records ordered by url for determinism).
    Output: (warc_file_id, warc binary, n_records)."""

    def pack(key, pdf):
        pdf = pdf.sort_values(url_col)
        chunks = []
        for _, r in pdf.iterrows():
            payload = bytes(r[payload_col])
            hdr = (
                b"WARC/1.0\r\n"
                b"WARC-Type: response\r\n"
                b"WARC-Target-URI: " + str(r[url_col]).encode() + b"\r\n"
                b"WARC-Date: " + str(r[date_col]).encode() + b"\r\n"
                b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
            )
            chunks.append(hdr + payload + b"\r\n\r\n")
        return pd.DataFrame(
            {"warc_file_id": [key[0]], "warc": [b"".join(chunks)], "n_records": [len(chunks)]}
        )

    return (
        pages.withColumn("_fid", file_key.cast("long"))
        .groupBy("_fid")
        .applyInPandas(pack, "warc_file_id long, warc binary, n_records long")
    )
