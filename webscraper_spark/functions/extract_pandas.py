r"""HTML field extraction: one Arrow-vectorized pandas UDF pass per batch
(the input_hint path: "extract links/text from fetched HTML using
vectorized pandas/Arrow UDFs with no per-row Python").

It re-expresses the reference's per-ad CSS-selector + Ruby-regex
extraction (cars_controller.rb:153-249, car_dealers_controller.rb:163-272).
The Ruby regexes (SURVEY.md §2.7 F1-F19) are reproduced with identical
semantics; `sub` (first occurrence) vs `gsub` (all) is honoured per call
site. Each pattern runs over a whole Arrow batch at a time. The UDF is evaluated exactly once per row (Catalyst
pulls Python UDFs into a single ArrowEvalPython node), then fields
star-expand from the returned struct.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscraper_spark.functions.canon import _canonicalize_py

_S = lambda: T.StringType()  # noqa: E731
X_STRUCT = T.StructType(
    [
        T.StructField("x_title", _S()),
        T.StructField("x_attrs_line", _S()),
        T.StructField("x_category", _S()),
        T.StructField("x_price_cell", _S()),
        T.StructField("x_km_cell", _S()),
        T.StructField("x_power_cell", _S()),
        T.StructField("x_fuel", _S()),
        T.StructField("x_transmission", _S()),
        T.StructField("x_ez", _S()),
        T.StructField("x_consumption", _S()),
        T.StructField("x_co2", _S()),
        T.StructField("x_damage", _S()),
        T.StructField("x_country", _S()),
        T.StructField("x_attr_map", T.MapType(_S(), _S())),
        T.StructField("x_features", T.ArrayType(_S())),
        T.StructField("x_images", T.ArrayType(_S())),
        T.StructField("x_dealer_name", _S()),
        T.StructField("x_address_raw", _S()),
        T.StructField("x_postal_code", _S()),
        T.StructField("x_dealer_city", _S()),
        T.StructField("x_dealer_street", _S()),
        T.StructField("x_phone", _S()),
        T.StructField("x_dealer_rating", _S()),
        T.StructField("x_quantity_ratings", _S()),
        T.StructField("x_pubdate", _S()),
        T.StructField("x_outlinks", T.ArrayType(_S())),
        # canonical form of each outlink, computed in the same UDF pass: a
        # second pandas UDF chained behind this one would add a Python
        # worker per task
        T.StructField("x_outlinks_canon", T.ArrayType(_S())),
        T.StructField("x_is_listing", T.BooleanType()),
    ]
)

# compiled once per executor
_P = {
    "title": re.compile(r'<h3 class="ad-title">([^<]*)</h3>'),
    "category": re.compile(r'<strong class="category">([^<]*)</strong>'),
    "attrs": re.compile(r'<span class="attributes">([^<]*)</span>'),
    "price": re.compile(r'<strong class="price">([^<]*)</strong>'),
    "km": re.compile(r"((?:\d*[.]\d{3}|\d*) km)"),
    "power": re.compile(r"(\d*\skW\s.\d*\sPS.)"),
    "fuel": re.compile(r"(Benzin|Diesel|Elektro|Erdgas)"),
    "trans": re.compile(r"(Automatik|Schaltgetriebe)"),
    "ez": re.compile(r"(\d{2}.\d{4})"),
    "cons": re.compile(r'<dd class="consumption">([^<]*)</dd>'),
    "co2": re.compile(r'<dd class="emission">([^<]*)</dd>'),
    "damage": re.compile(r'<span class="damaged">([^<]*)</span>'),
    "country": re.compile(r'<span class="countryVersion">([^<]*)</span>'),
    "dt": re.compile(r"<dt>([^<]*)</dt>"),
    "dd": re.compile(r"<dd>([^<]*)</dd>"),
    "li": re.compile(r"<li>([^<]*)</li>"),
    "img": re.compile(r'data-lazy="([^"]+)"'),
    "dealer": re.compile(r"<address><strong>([^<]*)</strong>"),
    "addr": re.compile(r'<div class="addressData">([^<]*)</div>'),
    "plz": re.compile(r"(\d{5})"),
    "city": re.compile(r"([a-zA-Z]+-?\D+$)"),
    "street": re.compile(r"(^\D*\d*\w(?:-|,)?\w*)"),
    "phone": re.compile(r'<span class="phone">([^<]*)</span>'),
    "phone_strip": re.compile(r"^Tel\.: "),
    "rating": re.compile(r'data-rating="([^"]+)"'),
    "n_ratings": re.compile(r'<span class="amount-of-ratings">([^<]*)</span>'),
    "pubdate": re.compile(r"Online seit (\d{2}.\d{2}.\d{4})"),
    "href": re.compile(r'href="([^"]+)"'),
}


def _x1(series: pd.Series, pat: re.Pattern) -> pd.Series:
    """First-group extract with ''/no-match -> None (mirrors nullif)."""
    out = series.str.extract(pat, expand=False)
    return out.where(out.notna() & (out != ""), None)


@F.pandas_udf(X_STRUCT)
def extract_all_udf(html_s: pd.Series) -> pd.DataFrame:
    h = html_s
    attrs = _x1(h, _P["attrs"])
    addr = _x1(h, _P["addr"])
    price_raw = _x1(h, _P["price"])
    phone_raw = _x1(h, _P["phone"])

    def findall(series: pd.Series, pat: re.Pattern):
        return [pat.findall(s) if isinstance(s, str) else None for s in series]

    dts = findall(h, _P["dt"])
    dds = findall(h, _P["dd"])
    attr_map = [dict(zip(a, b)) if a is not None else None for a, b in zip(dts, dds)]
    imgs = [["https:" + u for u in lst] if lst is not None else None for lst in findall(h, _P["img"])]
    outlinks = findall(h, _P["href"])
    canon_urls = [[_canonicalize_py(u) for u in lst] if lst is not None else None for lst in outlinks]

    out = pd.DataFrame(
        {
            "x_title": _x1(h, _P["title"]),
            "x_attrs_line": attrs,
            "x_category": _x1(h, _P["category"]),
            "x_price_cell": price_raw.str.replace(" Brutto", "", regex=False),
            "x_km_cell": _x1(attrs, _P["km"]),
            "x_power_cell": _x1(attrs, _P["power"]),
            "x_fuel": _x1(attrs, _P["fuel"]),
            "x_transmission": _x1(attrs, _P["trans"]),
            "x_ez": _x1(attrs, _P["ez"]),
            "x_consumption": _x1(h, _P["cons"]),
            "x_co2": _x1(h, _P["co2"]),
            "x_damage": _x1(h, _P["damage"]),
            "x_country": _x1(h, _P["country"]),
            "x_attr_map": attr_map,
            "x_features": findall(h, _P["li"]),
            "x_images": imgs,
            "x_dealer_name": _x1(h, _P["dealer"]),
            "x_address_raw": addr,
            "x_postal_code": _x1(addr, _P["plz"]),
            "x_dealer_city": _x1(addr, _P["city"]),
            "x_dealer_street": _x1(addr, _P["street"]),
            # Ruby sub: FIRST occurrence only (cars_controller.rb:242)
            "x_phone": phone_raw.str.replace(_P["phone_strip"], "", regex=True),
            "x_dealer_rating": _x1(h, _P["rating"]),
            "x_quantity_ratings": _x1(h, _P["n_ratings"]),
            "x_pubdate": _x1(h, _P["pubdate"]),
            "x_outlinks": outlinks,
            "x_outlinks_canon": canon_urls,
            "x_is_listing": h.str.contains('<ul class="resultList">', regex=False).astype(object).where(h.notna(), None),
        }
    )
    return out


def with_extraction_arrow(df: DataFrame) -> DataFrame:
    """Append every extracted `x_*` column plus `x_status` (listing / ok /
    err). Input needs `html` (binary); one Python evaluation per row."""
    out = df.withColumn("_x", extract_all_udf(F.col("html").cast("string")))
    x = F.col("_x")
    status: Column = (
        F.when(x["x_is_listing"], F.lit("listing"))
        .when(x["x_title"].isNotNull() & x["x_price_cell"].isNotNull() & x["x_km_cell"].isNotNull(), "ok")
        .otherwise("err")
    )
    return out.select(*df.columns, *[x[n].alias(n) for n in X_STRUCT.fieldNames()], status.alias("x_status"))
