"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship: synthesize the sf0.001 crawl corpus, run the
                    wave engine, push eligible cars through tags + pricing and
                    return the 41-rows-per-car Shopify variant DataFrame.
queries()         — one entry per engine step it checks (the crawl, URL
                    canonicalization, pricing, variants, the sheets), each
                    (spark, sf_dir) -> DataFrame calling package code.
oracle_sql()      — DuckDB-equivalent ANSI SQL per query.

Cross-engine parity rules baked into every oracle pair:
- DuckDB decimal literals are DECIMAL -> every constant is cast ::DOUBLE;
- CAST(double AS BIGINT) rounds in DuckDB but truncates in Spark -> floor();
- floats are rounded in-query on BOTH sides before comparison;
- column names aliased identically on both sides.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from webscraper_spark.functions.canon import canonicalize_url, url_host  # noqa: E402
from webscraper_spark.functions.derive import (  # noqa: E402
    eligibility,
    preis_tag,
    shopify_body,
    tags_string,
    with_identity,
    with_tags,
    with_typed,
)
from webscraper_spark.functions.shopify import hires_images, shopify_sheet  # noqa: E402
from webscraper_spark.functions.pricing import (  # noqa: E402
    preis_12_s_expr,
    price_dims,
    price_matrix,
    variant_rows,
    with_car_pricing_inputs,
)


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# ---------------------------------------------------------------------------
# entry — flagship crawl + dealer pipeline at sf0.001
# ---------------------------------------------------------------------------

def _corpus_cache(sf: float) -> str:
    return os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache", f"corpus_sf{sf}")


def _ckpt_dir(prefix: str) -> str:
    """A fresh temp checkpoint dir, removed at interpreter exit: the
    DataFrames a crawl returns read its wave files lazily, so it cannot be
    removed before they are consumed."""
    ckpt = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return ckpt


def _crawl_cached_corpus(spark: SparkSession, sf: float, prefix: str) -> dict[str, str]:
    """The 3-wave crawl over the cached synthetic corpus at `sf`; returns
    run_crawl's output paths."""
    from webscraper_spark.plans.wave import CrawlConfig, run_crawl
    from webscraper_spark.sources.synth import load_pages, materialize_corpus

    cache = _corpus_cache(sf)
    os.makedirs(cache, exist_ok=True)
    paths = materialize_corpus(spark, sf, cache)
    load = lambda n: spark.read.parquet(paths[n])  # noqa: E731
    pages, bucketed = load_pages(spark, paths["pages"])
    return run_crawl(spark, pages, load("seeds"), load("robots"), load("politeness"),
                     _ckpt_dir(prefix), CrawlConfig(max_waves=3, corpus_bucketed=bucketed))


def entry(spark: SparkSession) -> DataFrame:
    from webscraper_spark.plans.wave import fetched_paths

    out = _crawl_cached_corpus(spark, 0.001, "entry_ckpt_")
    fetched = fetched_paths(out["ckpt_dir"], json.loads(out["waves"]))
    results = spark.read.parquet(*fetched).filter(F.col("x_status") == "ok")
    cars = with_car_pricing_inputs(with_typed(results)).filter(eligibility())
    cars = with_tags(with_identity(cars)).withColumn("preis_tag", preis_tag(preis_12_s_expr())).withColumn(
        "tags", tags_string()
    ).withColumn("body_html", shopify_body())
    v = variant_rows(price_matrix(cars, price_dims(spark)))
    # Full 93-column Shopify import sheet (reference's actual product),
    # keyed by (url, row_kind, duration, package) for stable identity.
    return shopify_sheet(v, keys=("url", "row_kind", "duration", "package"))


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

# URL construction shared by the canonicalization queries: build a messy URL
# from events columns; the canonical form is independently constructible.
def _messy_url():
    return F.concat(
        F.lit("HTTPS://HOST"), F.pmod(F.col("user_id"), F.lit(50)), F.lit(".EXAMPLE:443/path/"),
        F.pmod(F.col("event_id"), F.lit(100)), F.lit("?b="), F.pmod(F.col("event_id"), F.lit(9)),
        F.lit("&a="), F.pmod(F.col("event_id"), F.lit(10)), F.lit("#frag"),
    )


def _q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return ev.select("event_id", canonicalize_url(_messy_url()).alias("canon_url"))


_SQL_CANONICALIZE = """
SELECT event_id,
       'https://host' || (user_id % 50) || '.example/path/' || (event_id % 100)
       || '?a=' || (event_id % 10) || '&b=' || (event_id % 9) AS canon_url
FROM events
"""


def _q_host_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return (
        ev.select(url_host(canonicalize_url(_messy_url())).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n_urls"))
    )


_SQL_HOST_GROUP = """
SELECT 'host' || (user_id % 50) || '.example' AS host, count(*) AS n_urls
FROM events GROUP BY 1
"""



_CARS_SPARK_FILTER = "(l_orderkey % 20 = 0) AND (l_linenumber = 1)"


def _cars_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(_t(sf_dir, "lineitem")).filter(F.expr(_CARS_SPARK_FILTER))
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("car_key"),
        (F.pmod(F.floor("l_extendedprice").cast("long"), F.lit(30000)) + 3000).alias("price_i"),
        (F.floor(F.col("l_quantity") * 4).cast("long") + 50).alias("ps_i"),
        (F.lit(900) + F.pmod("l_partkey", F.lit(2600))).alias("hub_i"),
        F.when(F.col("l_returnflag") == "R", "Diesel").otherwise("Benzin").alias("x_fuel"),
        (F.lit(80) + F.pmod("l_orderkey", F.lit(120))).alias("co2_i"),
        F.lit(True).alias("co2_present"),
    )


_SQL_CARS = """
  SELECT l_orderkey * 10 + l_linenumber AS car_key,
         (CAST(floor(l_extendedprice) AS BIGINT) % 30000) + 3000 AS price_i,
         CAST(floor(l_quantity * 4) AS BIGINT) + 50 AS ps_i,
         900 + (l_partkey % 2600) AS hub_i,
         CASE WHEN l_returnflag = 'R' THEN 'Diesel' ELSE 'Benzin' END AS x_fuel,
         80 + (l_orderkey % 120) AS co2_i
  FROM lineitem WHERE (l_orderkey % 20 = 0) AND (l_linenumber = 1)
"""

_SQL_PRICED = f"""
WITH cars AS ({_SQL_CARS}),
dims AS (
  SELECT d.duration, p.package, p.dep_pct,
         (d.duration > 6 OR (d.duration = 6 AND p.package = 'xxl')) AS maint_applies
  FROM (SELECT unnest(generate_series(3, 12)) AS duration) d
  CROSS JOIN (VALUES ('s', 12.0), ('m', 14.0), ('l', 16.0), ('xl', 18.0), ('xxl', 20.0)) p(package, dep_pct)
),
inputs AS (
  SELECT *,
    price_i / (1.0::DOUBLE + 0.16::DOUBLE) AS selling_net,
    0.05::DOUBLE * price_i / 12 AS loan_cost_month,
    CASE WHEN ps_i / 1.36::DOUBLE < 66 THEN 87.5::DOUBLE
         WHEN ps_i / 1.36::DOUBLE > 66 AND ps_i / 1.36::DOUBLE < 99 THEN 98.8::DOUBLE
         WHEN ps_i / 1.36::DOUBLE > 99 AND ps_i / 1.36::DOUBLE < 130 THEN 111.30::DOUBLE
         WHEN ps_i / 1.36::DOUBLE > 130 AND ps_i / 1.36::DOUBLE < 210 THEN 134.00::DOUBLE
    END AS insurance_month,
    (CASE WHEN x_fuel = 'Diesel' THEN CAST(hub_i AS DOUBLE) / 100 * (9.5::DOUBLE / 12)
          WHEN x_fuel = 'Benzin' THEN CAST(hub_i AS DOUBLE) / 100 * (2.0::DOUBLE / 12)
          WHEN x_fuel IN ('Elektro', 'Erdgas') THEN 0.0::DOUBLE
     END) + (CAST(co2_i AS DOUBLE) - 95.0::DOUBLE) * (2.0::DOUBLE / 12) AS car_tax_month
  FROM cars
),
m AS (
  SELECT i.car_key, d.duration, d.package,
    ((100.0::DOUBLE + 100.0::DOUBLE / 1.16::DOUBLE
      + CASE WHEN d.maint_applies THEN 100.0::DOUBLE / 1.16::DOUBLE ELSE 0.0::DOUBLE END
      + 0.45::DOUBLE / 1.16::DOUBLE) / d.duration
     + 170.0::DOUBLE / 12 / 1.16::DOUBLE
     + i.car_tax_month + i.insurance_month
     + 5.38::DOUBLE / 1.16::DOUBLE
     + 0.06::DOUBLE / 1.16::DOUBLE
     + 100.0::DOUBLE / 12 / 1.16::DOUBLE
     + d.dep_pct::DOUBLE / 100 * i.selling_net / 12
     + i.loan_cost_month) AS base,
    (100.0::DOUBLE / 1.16::DOUBLE
     + (d.dep_pct::DOUBLE / 100 * i.selling_net / 12
        + 100.0::DOUBLE / 12 / 1.16::DOUBLE
        + 170.0::DOUBLE / 12 / 1.16::DOUBLE) * d.duration) AS resell_cost,
    i.price_i
  FROM inputs i CROSS JOIN dims d
  WHERE i.insurance_month IS NOT NULL
)
SELECT car_key, duration, package,
  CAST(round((base + 0.003::DOUBLE * base * 1.1::DOUBLE * 1.16::DOUBLE) * 1.1::DOUBLE * 1.16::DOUBLE) AS BIGINT) AS preis,
  CAST(round(price_i - resell_cost * 1.16::DOUBLE) AS BIGINT) AS reselling
FROM m
"""


def _q_cross_join_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cars = with_car_pricing_inputs(_cars_from_lineitem(spark, sf_dir))
    return price_matrix(cars, price_dims(spark)).select(
        "car_key", F.col("duration").cast("long").alias("duration"), "package", "preis", "reselling"
    )


def _q_variant_explode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    cars = with_car_pricing_inputs(_cars_from_lineitem(spark, sf_dir))
    v = variant_rows(price_matrix(cars, price_dims(spark)))
    return v.groupBy("car_key").agg(F.count("*").alias("n_rows")).select("car_key", "n_rows")


_SQL_VARIANT_COUNTS = f"""
WITH priced AS ({_SQL_PRICED})
SELECT car_key, count(*) AS n_rows FROM priced
WHERE NOT (duration >= 4 AND package = 's')
GROUP BY car_key
"""



def _synth_gallery(n_img) -> F.Column:
    """Deterministic per-car gallery of '$_27.jpg' URLs (mirrors the synth
    corpus shape). Guarded: F.sequence(1, 0) yields DESCENDING [1, 0]."""
    return F.when(
        n_img >= 1,
        F.transform(
            F.sequence(F.lit(1), n_img),
            lambda i: F.format_string("https://img.example.de/%d/%d/$_27.jpg", F.col("car_key"), i),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _q_image_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hi-res gallery rewrite: literal '$_27.jpg' -> '$_57.jpg' per URL
    (ref: car_dealers_controller.rb:205)."""
    cars = _cars_from_lineitem(spark, sf_dir)
    raw = _synth_gallery(F.pmod("car_key", F.lit(24)).cast("int"))
    return cars.select("car_key", F.posexplode(hires_images(raw)).alias("pos", "img_url"))


_SQL_IMAGE_REWRITE = f"""
WITH cars AS ({_SQL_CARS}),
e AS (SELECT car_key, unnest(generate_series(1, car_key % 24)) AS i FROM cars)
SELECT car_key, CAST(i - 1 AS INTEGER) AS pos,
       replace('https://img.example.de/' || car_key || '/' || i || '/$_27.jpg',
               '$_27.jpg', '$_57.jpg') AS img_url
FROM e
"""


def _q_shopify_sheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 93-column Shopify import sheet over deterministic cars: layout,
    master-vs-variant nils, option values, constants, prices, and the
    positional image pairs (Bild_0 dropped, position = gallery index,
    hi-res rewrite applied). Body/tag *templates* are byte-tested in
    tests/test_pricing.py; here they are deterministic stand-ins so the
    oracle checks the sheet arithmetic."""
    cars = with_car_pricing_inputs(_cars_from_lineitem(spark, sf_dir))
    ck = F.col("car_key").cast("string")
    cars = (
        cars.withColumn("x_images", _synth_gallery(F.pmod("car_key", F.lit(24)).cast("int")))
        .withColumn("x_dealer_name", F.concat(F.lit("Dealer "), ck))
        .withColumn("x_address_raw", F.lit("Musterstr. 1, 10115 Berlin"))
        .withColumn("title_clean", F.concat(F.lit("Car Modell "), ck))
        .withColumn("handle", F.regexp_replace(F.col("title_clean"), r"\s", "-"))
        .withColumn("vendor", F.lit("Car"))
        .withColumn("tags", F.concat(F.lit("Marke_Car, Zustand_Gebraucht, CO2_"), F.col("co2_i").cast("string")))
        .withColumn("body_html", F.concat(F.lit("<p>"), ck, F.lit("</p>")))
    )
    v = variant_rows(price_matrix(cars, price_dims(spark)))
    sheet = shopify_sheet(v, keys=("car_key", "duration", "package"))
    return sheet.withColumn("duration", F.col("duration").cast("long"))


def _sql_shopify_sheet() -> str:
    from webscraper_spark.functions.shopify import (
        N_IMAGE_EMITTED,
        N_IMAGE_PAIRS,
        SHOPIFY_COLUMNS,
    )

    mast = lambda expr: f"CASE WHEN row_kind = 'master' THEN {expr} END"  # noqa: E731
    km = ("CASE package WHEN 's' THEN '500 km' WHEN 'm' THEN '1000 km' WHEN 'l' THEN '1500 km' "
          "WHEN 'xl' THEN '2000 km' ELSE '2500 km' END")
    sel = ["car_key", "duration", "package"]
    sel += [
        mast("'Dealer ' || car_key") + " AS dealer_name",
        mast("'Musterstr. 1, 10115 Berlin'") + " AS dealer_address",
        mast("price_i") + " AS purchase_price",
        "reselling AS reselling_price",
        "'Car-Modell-' || car_key AS handle",
        mast("'Car Modell ' || car_key") + " AS title",
        mast("'<p>' || car_key || '</p>'") + " AS body_html",
        mast("'Car'") + " AS vendor",
        "CAST(NULL AS VARCHAR) AS type",
        mast("'Marke_Car, Zustand_Gebraucht, CO2_' || co2_i") + " AS tags",
        mast("'WAHR'") + " AS published",
        mast("'Deine Abo Dauer'") + " AS option1_name",
        "duration || ' Monate' AS option1_value",
        mast("'Dein monatliches Kilometerpaket'") + " AS option2_name",
        f"{km} AS option2_value",
        "CAST(NULL AS VARCHAR) AS option3_name",
        "CAST(NULL AS VARCHAR) AS option3_value",
        "'ADA' AS variant_sku",
        "'0' AS variant_grams",
        "CAST(NULL AS VARCHAR) AS variant_inventory_tracker",
        "'0' AS variant_inventory_qty",
        "'deny' AS variant_inventory_policy",
        "'manual' AS variant_fulfillment_service",
        "preis AS variant_price",
        "CAST(NULL AS BIGINT) AS variant_compare_at_price",
        "'FALSCH' AS variant_requires_shipping",
        "'WAHR' AS variant_taxable",
        "CAST(NULL AS VARCHAR) AS variant_barcode",
    ]
    for j in range(1, N_IMAGE_PAIRS + 1):
        if j <= N_IMAGE_EMITTED:
            # Bild_j = gallery[j] 0-based -> 1-based list_extract(j+1);
            # hi-res '$_57.jpg' expected post-rewrite
            img = mast(
                f"CASE WHEN car_key % 24 >= {j + 1} THEN "
                f"'https://img.example.de/' || car_key || '/' || {j + 1} || '/$_57.jpg' END"
            )
            sel.append(f"{img} AS image_src_{j}")
            sel.append(
                f"CASE WHEN row_kind = 'master' AND car_key % 24 >= {j + 1} "
                f"THEN {j} END AS image_position_{j}"
            )
        else:
            sel.append(f"CAST(NULL AS VARCHAR) AS image_src_{j}")
            sel.append(f"CAST(NULL AS INTEGER) AS image_position_{j}")
    for name in SHOPIFY_COLUMNS[28 + 2 * N_IMAGE_PAIRS:]:
        sel.append(f"CAST(NULL AS VARCHAR) AS {name}")
    cols = ",\n  ".join(sel)
    # car_key is NOT unique in the driver's lineitem testdata (duplicate
    # (orderkey, linenumber) pairs exist), so joining cars back onto priced
    # would multiply rows. Thread the extra car columns through the priced
    # pipeline instead, exactly as the Spark side does (columns added before
    # the crossJoin).
    priced_plus = _SQL_PRICED.replace(
        "SELECT i.car_key, d.duration, d.package,",
        "SELECT i.car_key, i.co2_i, d.duration, d.package,",
    ).replace(
        "SELECT car_key, duration, package,",
        "SELECT car_key, co2_i, price_i, duration, package,",
    )
    assert "i.co2_i" in priced_plus and "co2_i, price_i" in priced_plus
    return f"""
WITH priced AS ({priced_plus}),
kept AS (
  SELECT car_key, duration, package, preis, reselling, price_i, co2_i,
         CASE WHEN duration = 3 AND package = 's' THEN 'master' ELSE 'variant' END AS row_kind
  FROM priced
  WHERE NOT (duration >= 4 AND package = 's')
)
SELECT
  {cols}
FROM kept
"""


def _q_search_sheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 48-column cars-pipeline search sheet (reference
    cars_controller.rb:263-315) over deterministic extraction-shaped rows:
    attr-map lookups (absent keys -> NULL), the image_8-written-twice quirk,
    1-based gallery slots without hi-res rewrite, and the nullable
    dealer_rating / dealer_quantity_ratings passthrough."""
    from webscraper_spark.functions.shopify import search_sheet

    cars = _cars_from_lineitem(spark, sf_dir)
    ck = F.col("car_key").cast("string")
    df = (
        cars.withColumn("url", F.concat(F.lit("https://d.example/ad/"), ck))
        .withColumn("x_title", F.concat(F.lit("Car Modell "), ck))
        .withColumn("x_price_cell", F.concat(F.col("price_i").cast("string"), F.lit(" €")))
        .withColumn("x_damage", F.when(F.pmod("car_key", F.lit(10)) == 0,
                                       F.lit(None).cast("string")).otherwise(F.lit("Unfallfrei")))
        .withColumn("x_category", F.lit("SUV"))
        .withColumn("x_country", F.lit("Deutsche Ausführung"))
        .withColumn("x_consumption", F.lit("5,6 l/100km (komb.)"))
        .withColumn("x_km_cell", F.concat(F.col("hub_i").cast("string"), F.lit(" km")))
        .withColumn("x_power_cell", F.format_string("%d PS", F.col("ps_i").cast("int")))
        .withColumn("x_co2", F.format_string("%d g/km (komb.)", F.col("co2_i").cast("int")))
        .withColumn("x_transmission", F.when(F.pmod("car_key", F.lit(2)) == 0, "Automatik")
                    .otherwise("Schaltgetriebe"))
        .withColumn("x_ez", F.format_string("%02d/%d", (F.pmod("car_key", F.lit(12)) + 1).cast("int"),
                                            (F.lit(2005) + F.pmod("car_key", F.lit(16))).cast("int")))
        .withColumn("x_attr_map", F.create_map(
            F.lit("Hubraum"), F.concat(F.col("hub_i").cast("string"), F.lit(" cm³")),
            F.lit("Anzahl der Türen"), (F.pmod("car_key", F.lit(3)) + 3).cast("string"),
            F.lit("Farbe"), F.when(F.col("x_fuel") == "Diesel", "Schwarz").otherwise("Blau"),
        ))
        .withColumn("x_images", _synth_gallery(F.pmod("car_key", F.lit(24)).cast("int")))
        .withColumn("x_features", F.array(F.lit("Klimaanlage"), F.lit("Sitzheizung")))
        .withColumn("x_dealer_name", F.concat(F.lit("Dealer "), ck))
        .withColumn("x_postal_code", F.lit("10115"))
        .withColumn("x_dealer_city", F.lit("Berlin"))
        .withColumn("x_dealer_street", F.lit("Musterstr. 1"))
        .withColumn("x_phone", F.concat(F.lit("+49 30 "), ck))
        .withColumn("x_dealer_rating", F.when(F.pmod("car_key", F.lit(4)) == 3,
                                              F.lit(None).cast("string"))
                    .otherwise(F.format_string("%d.%d", (F.lit(3) + F.pmod("car_key", F.lit(2))).cast("int"),
                                               F.pmod("car_key", F.lit(10)).cast("int"))))
        .withColumn("x_quantity_ratings", F.when(F.pmod("car_key", F.lit(4)) == 3,
                                                 F.lit(None).cast("string"))
                    .otherwise(F.format_string("(%d)", F.pmod("car_key", F.lit(480)).cast("int"))))
        .withColumn("x_pubdate", F.lit("06.08.2020"))
    )
    return search_sheet(df).withColumn("car_key", F.col("ad_link").substr(F.lit(22), F.lit(20)).cast("long"))


def _sql_search_sheet() -> str:
    img = lambda e: (f"CASE WHEN car_key % 24 >= {e} THEN "
                     f"'https://img.example.de/' || car_key || '/' || {e} || '/$_27.jpg' END")
    slots = [1, 2, 3, 4, 5, 6, 7, 8, 8, 10, 11, 12]  # image_8 written twice (:300-301)
    img_cols = ",\n  ".join(f"{img(e)} AS image_{j}" for j, e in enumerate(slots, start=1))
    return f"""
WITH cars AS ({_SQL_CARS})
SELECT
  'https://d.example/ad/' || car_key AS ad_link,
  'Car Modell ' || car_key AS title,
  price_i || ' €' AS price,
  CASE WHEN car_key % 10 = 0 THEN NULL ELSE 'Unfallfrei' END AS damage_condition,
  'SUV' AS category,
  'Deutsche Ausführung' AS country_version,
  '5,6 l/100km (komb.)' AS consumption,
  hub_i || ' km' AS mileage,
  hub_i || ' cm³' AS cubic_capacity,
  ps_i || ' PS' AS power,
  x_fuel AS fuel,
  co2_i || ' g/km (komb.)' AS emission,
  CAST(NULL AS VARCHAR) AS num_owners,
  CAST(NULL AS VARCHAR) AS num_seats,
  CAST(car_key % 3 + 3 AS VARCHAR) AS door_count,
  CASE WHEN car_key % 2 = 0 THEN 'Automatik' ELSE 'Schaltgetriebe' END AS transmission,
  CAST(NULL AS VARCHAR) AS emission_class,
  CAST(NULL AS VARCHAR) AS emssion_sticker,
  printf('%02d/%d', CAST(car_key % 12 + 1 AS INTEGER), CAST(2005 + car_key % 16 AS INTEGER)) AS first_registration,
  CAST(NULL AS VARCHAR) AS hu,
  CAST(NULL AS VARCHAR) AS climatisation,
  CAST(NULL AS VARCHAR) AS construction_year,
  CAST(NULL AS VARCHAR) AS park_assist,
  CAST(NULL AS VARCHAR) AS airbag,
  CAST(NULL AS VARCHAR) AS manufacturer_color_name,
  CASE WHEN x_fuel = 'Diesel' THEN 'Schwarz' ELSE 'Blau' END AS color,
  CAST(NULL AS VARCHAR) AS interior,
  {img_cols},
  'Klimaanlage' || chr(10) || 'Sitzheizung' AS features,
  'Dealer ' || car_key AS dealer_name,
  '10115' AS dealer_postal_code,
  'Berlin' AS dealer_city,
  'Musterstr. 1' AS dealer_address,
  '+49 30 ' || car_key AS dealer_phone,
  CASE WHEN car_key % 4 = 3 THEN NULL
       ELSE printf('%d.%d', CAST(3 + car_key % 2 AS INTEGER), CAST(car_key % 10 AS INTEGER)) END AS dealer_rating,
  CASE WHEN car_key % 4 = 3 THEN NULL
       ELSE printf('(%d)', CAST(car_key % 480 AS INTEGER)) END AS dealer_quantity_ratings,
  '06.08.2020' AS publishing_date,
  car_key
FROM cars
"""


def _q_crawl_wave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl on the synthetic corpus. Oracled: _sql_crawl_wave()
    replays the ENTIRE 3-wave crawl (canonicalization, seen anti-join,
    robots, per-host rank, budgets, politeness clock, href extraction,
    outlink dedup, frontier merge) as one DuckDB query over the same cached
    corpus parquet — the north-rule 'crawl ordering + URL-seen set'
    invariant, machine-checked end to end. The corpus is the oracle's
    (sf0.01) whatever `sf_dir` is: oracle_sql() takes no scale."""
    out = _crawl_cached_corpus(spark, _CRAWL_WAVE_SF, "qcrawl_")
    return spark.read.parquet(out["order"]).select(
        "url", "host", F.col("wave").cast("long").alias("wave"),
        F.col("rank").cast("long").alias("rank"), "sched_ms"
    )


_CRAWL_WAVE_SF = 0.01
_CANON_RE = r"^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"
_WAVE_EPOCH_MS = 10_000_000
_MAX_LINKS = 1024


def _sql_canon_cte(name: str) -> str:
    """CTE `name`: canonicalize column `raw` of `{name}_in` exactly like
    functions/canon.py (lowercase scheme+host, strip default port/fragment,
    sort query params, '' path -> '/'; non-URLs pass through trimmed) while
    keeping the (p_rank, p_depth, link_pos) discovery metadata."""
    re_ = _CANON_RE
    return f"""
{name} AS (
  SELECT p_rank, p_depth, link_pos,
         CASE WHEN sch = '' THEN t ELSE sch || '://' || hostp || pth || q END AS url,
         CASE WHEN sch = '' THEN '' ELSE regexp_replace(auth, ':[0-9]+$', '') END AS host
  FROM (
    SELECT *,
      CASE WHEN pth0 = '' THEN '/' ELSE pth0 END AS pth,
      CASE WHEN (sch = 'https' AND ends_with(auth, ':443')) OR (sch = 'http' AND ends_with(auth, ':80'))
           THEN regexp_replace(auth, ':[0-9]+$', '') ELSE auth END AS hostp,
      CASE WHEN len(rawq) > 1
           THEN '?' || array_to_string(list_sort(string_split(substr(rawq, 2), '&')), '&')
           ELSE '' END AS q
    FROM (
      SELECT *, lower(regexp_extract(t, '{re_}', 1)) AS sch, lower(regexp_extract(t, '{re_}', 2)) AS auth,
             regexp_extract(t, '{re_}', 3) AS pth0, regexp_extract(t, '{re_}', 4) AS rawq
      FROM (SELECT *, trim(raw) AS t FROM {name}_in)
    )
  )
)"""


def _sql_crawl_wave_ctes(w: int) -> str:
    """One wave of the crawl replay: anti-join seen, robots prefix filter,
    per-host FIFO rank, budget gate + politeness clock, fetch join, href
    extraction, outlink canonicalization + dedup, frontier merge."""
    nw, re_ = w + 1, _CANON_RE
    return f"""
cand{w} AS (
  SELECT f.* FROM frontier{w} f LEFT JOIN seen{w} s ON f.url = s.url WHERE s.url IS NULL
),
rob{w} AS (
  SELECT c.* FROM (
    SELECT c.*, CASE WHEN regexp_extract(c.url, '{re_}', 3) = '' THEN '/'
                     ELSE regexp_extract(c.url, '{re_}', 3) END AS upath,
           coalesce(r.disallow_prefixes, []::VARCHAR[]) AS dis
    FROM cand{w} c LEFT JOIN robots r ON c.host = r.host
  ) c
  WHERE len(list_filter(c.dis, p -> starts_with(c.upath, p))) = 0
),
sched{w} AS (
  SELECT rk.*, coalesce(b.max_pages, star.smax, 40) AS max_pages,
         coalesce(b.delay_ms, star.sdelay, 1000) AS delay_ms,
         rk.rank <= coalesce(b.max_pages, star.smax, 40) AS in_budget
  FROM (
    SELECT c.url, c.host, c.depth, c.disc_wave, c.disc_pos,
           row_number() OVER (PARTITION BY c.host ORDER BY c.depth, c.disc_wave, c.disc_pos, c.url) AS rank
    FROM rob{w} c
  ) rk LEFT JOIN budgets b ON rk.host = b.host CROSS JOIN star
),
ord{w} AS (
  SELECT url, host, {w}::BIGINT AS wave, rank::BIGINT AS rank, depth,
         {w}::BIGINT * {_WAVE_EPOCH_MS} + (rank - 1)::BIGINT * delay_ms AS sched_ms
  FROM sched{w} WHERE in_budget
),
links{w}_in AS (
  SELECT f.rank AS p_rank, f.depth AS p_depth, gs.i - 1 AS link_pos, f.lst[gs.i] AS raw
  FROM (
    SELECT o.rank, o.depth, regexp_extract_all(p.html_s, 'href="([^"]+)"', 1) AS lst
    FROM ord{w} o LEFT JOIN pages p ON o.url = p.url
  ) f, UNNEST(generate_series(1, len(f.lst))) AS gs(i)
),
{_sql_canon_cte(f"links{w}").lstrip()},
newcand{w} AS (
  SELECT url, host, (p_depth + 1) AS depth, {nw} AS disc_wave,
         p_rank::BIGINT * {_MAX_LINKS} + least(link_pos, {_MAX_LINKS - 1})::BIGINT AS disc_pos
  FROM links{w}
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY (p_depth + 1),
                             p_rank::BIGINT * {_MAX_LINKS} + least(link_pos, {_MAX_LINKS - 1})::BIGINT) = 1
),
deferred{w} AS (
  SELECT url, host, depth, disc_wave, disc_pos FROM sched{w} WHERE NOT in_budget
),
frontier{nw} AS (
  SELECT url,
         regexp_replace(lower(regexp_extract(url, '{re_}', 2)), ':[0-9]+$', '') AS host,
         depth, disc_wave, disc_pos
  FROM (
    SELECT url, depth, disc_wave, disc_pos FROM deferred{w}
    UNION ALL
    SELECT url, depth, disc_wave, disc_pos FROM newcand{w}
  )
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY depth, disc_wave, disc_pos) = 1
),
seen{nw} AS (
  SELECT url FROM seen{w} UNION ALL SELECT url FROM ord{w}
)"""


def _sql_crawl_wave(waves: int = 3) -> str:
    """Full-crawl replay oracle over the cached sf0.01 synthetic corpus
    (materialized by _q_crawl_wave from the same deterministic generator).
    Verifies plans/wave.py end to end: crawl order, URL-seen set, per-host
    ranks and simulated politeness clock — zero shared code with the engine."""
    cache = _corpus_cache(_CRAWL_WAVE_SF)
    re_ = _CANON_RE
    parts = [f"""
pages AS (SELECT url, decode(html) AS html_s FROM read_parquet('{cache}/pages/*.parquet')),
robots AS (SELECT * FROM read_parquet('{cache}/robots/*.parquet')),
politeness AS (SELECT * FROM read_parquet('{cache}/politeness/*.parquet')),
star AS (SELECT max_pages_per_wave AS smax, min_delay_ms AS sdelay FROM politeness WHERE host = '*'),
budgets AS (
  SELECT h.host,
         coalesce(o.max_pages_per_wave, star.smax) AS max_pages,
         greatest(coalesce(o.min_delay_ms, star.sdelay), coalesce(r.crawl_delay_ms, 0)) AS delay_ms
  FROM (
    SELECT host FROM robots UNION SELECT host FROM politeness WHERE host <> '*'
  ) h
  LEFT JOIN (SELECT * FROM politeness WHERE host <> '*') o ON h.host = o.host
  LEFT JOIN robots r ON h.host = r.host
  CROSS JOIN star
),
seeds0_in AS (
  SELECT NULL::BIGINT AS p_rank, NULL::BIGINT AS p_depth, NULL::BIGINT AS link_pos, url AS raw
  FROM read_parquet('{cache}/seeds/*.parquet')
),
{_sql_canon_cte("seeds0").lstrip()},
frontier0 AS (
  SELECT url,
         regexp_replace(lower(regexp_extract(url, '{re_}', 2)), ':[0-9]+$', '') AS host,
         0 AS depth, 0 AS disc_wave, 0::BIGINT AS disc_pos
  FROM seeds0
  QUALIFY row_number() OVER (PARTITION BY url ORDER BY url) = 1
),
seen0 AS (SELECT NULL::VARCHAR AS url WHERE false)"""]
    for w in range(waves):
        parts.append(_sql_crawl_wave_ctes(w))
    final = " UNION ALL ".join(f"SELECT url, host, wave, rank, sched_ms FROM ord{w}" for w in range(waves))
    return "WITH " + ",".join(parts) + "\n" + final



def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry: name -> (spark, sf_dir) -> DataFrame.

    oracle_sql() has the same keys in the same order
    (tests/test_registry.py checks this).
    """
    return {
        "crawl_wave_e2e": _q_crawl_wave,
        "url_canonicalize": _q_url_canonicalize,
        "host_group_count": _q_host_group,
        "cross_join_pricing_matrix": _q_cross_join_pricing,
        "variant_explode_counts": _q_variant_explode_counts,
        "image_rewrite": _q_image_rewrite,
        "shopify_sheet": _q_shopify_sheet,
        "search_sheet": _q_search_sheet,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query, keyed and ordered as queries()."""
    return {
        "crawl_wave_e2e": _sql_crawl_wave(),
        "url_canonicalize": _SQL_CANONICALIZE,
        "host_group_count": _SQL_HOST_GROUP,
        "cross_join_pricing_matrix": _SQL_PRICED,
        "variant_explode_counts": _SQL_VARIANT_COUNTS,
        "image_rewrite": _SQL_IMAGE_REWRITE,
        "shopify_sheet": _sql_shopify_sheet(),
        "search_sheet": _sql_search_sheet(),
    }
