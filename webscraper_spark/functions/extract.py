"""Ground-truth text rebuilt from extracted columns.

The fields come from the Arrow extraction UDF
(`extract_pandas.with_extraction_arrow`). `extracted_text` and
`listing_text` rebuild from them the byte-exact `text` of the corpus, for
detail and listing pages respectively (input_hint invariant: byte-identical
extracted text per url).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from webscraper_spark.functions.canon import url_host


def _re1(col: Column, pattern: str, group: int = 1) -> Column:
    """regexp_extract with no-match -> NULL (Spark returns '' on no match)."""
    return F.nullif(F.regexp_extract(col, pattern, group), F.lit(""))


def extracted_text() -> Column:
    """Rebuild the ground-truth `text` bytes from extracted columns (detail
    pages). Must equal pages.text byte-for-byte for status='ok' rows."""
    z = F.lit("")
    m = F.col("x_attr_map")
    kw = _re1(F.col("x_power_cell"), r"^(\d+) kW")
    ps = _re1(F.col("x_power_cell"), r"\((\d+) PS\)")
    return F.concat_ws(
        "|",
        F.col("x_title"),
        F.col("x_price_cell"),
        F.col("x_km_cell"),
        kw,
        ps,
        F.col("x_fuel"),
        F.col("x_category"),
        F.coalesce(F.col("x_ez"), z),
        F.col("x_transmission"),
        F.coalesce(F.col("x_consumption"), z),
        F.coalesce(F.col("x_co2"), z),
        m["Hubraum"],
        m["Anzahl der Türen"],
        m["Anzahl Sitzplätze"],
        m["Anzahl der Fahrzeughalter"],
        F.coalesce(m["Farbe"], z),
        F.col("x_dealer_name"),
        F.col("x_address_raw"),
        F.col("x_phone"),
        F.col("x_pubdate"),
        F.array_join(F.col("x_features"), ";"),
        F.size(F.col("x_images")).cast("string"),
        F.coalesce(F.col("x_dealer_rating"), z),
        F.coalesce(F.col("x_quantity_ratings"), z),
    )


def listing_text() -> Column:
    """Ground-truth text for listing pages: LISTING|host|page|n_outlinks."""
    page_no = _re1(F.col("url"), r"[?&]page=(\d+)")
    return F.concat_ws(
        "|", F.lit("LISTING"), url_host(F.col("url")), page_no, F.size(F.col("x_outlinks")).cast("string")
    )
