"""StructType of the pages input table; a stream read needs it explicitly.

Input-table shape is mandated by BASELINE.json input_hint: pages(url string,
warc_ts timestamp, html binary, text string, lang string).
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)
