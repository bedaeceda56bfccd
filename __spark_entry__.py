"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)      — flagship: synthesize the sf0.001 crawl corpus, run the
                    wave engine, push eligible cars through tags + pricing and
                    return the 41-rows-per-car Shopify variant DataFrame.
queries()         — one entry per implemented operator (SURVEY.md §2),
                    each (spark, sf_dir) -> DataFrame.
oracle_sql()      — DuckDB-equivalent ANSI SQL per query (omitted for
                    genuinely non-SQL-expressible ops -> rows-only check).

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

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from webscraper_spark.functions.canon import canonicalize_url, url_host  # noqa: E402
from webscraper_spark.functions.derive import (  # noqa: E402
    eligibility,
    preis_tag,
    tags_string,
    with_identity,
    with_tags,
    with_typed,
)
from webscraper_spark.functions.derive import shopify_body  # noqa: E402
from webscraper_spark.functions.shopify import hires_images, shopify_sheet  # noqa: E402
from webscraper_spark.functions.pricing import (  # noqa: E402
    preis_12_s_expr,
    price_dims,
    price_matrix,
    variant_rows,
    with_car_pricing_inputs,
)
RUN_DATE = "2020-09-01"


def _t(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _token_count(text: F.Column) -> F.Column:
    """Whitespace token count of trimmed text; '' -> 0."""
    t = F.trim(text)
    return F.size(F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))).cast("long")


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

def _q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def _q_eligibility_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(_t(sf_dir, "lineitem"))
    return li.filter(
        (F.col("l_quantity") > 10)
        & (F.col("l_quantity") < 45)
        & (F.col("l_extendedprice") < 30000)
        & (F.col("l_discount") < 0.08)
        & F.col("l_returnflag").isin("N", "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


_SQL_ELIGIBILITY = """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_quantity > 10 AND l_quantity < 45 AND l_extendedprice < 30000
  AND l_discount < 0.08 AND l_returnflag IN ('N','R')
"""


def _q_anti_join_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(_t(sf_dir, "customer"))
    o = spark.read.parquet(_t(sf_dir, "orders"))
    return c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


_SQL_ANTI_JOIN = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def _q_semi_join_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(_t(sf_dir, "customer"))
    o = spark.read.parquet(_t(sf_dir, "orders"))
    return c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_acctbal")


_SQL_SEMI_JOIN = """
SELECT c_custkey, c_acctbal FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def _q_frontier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("user_id", "event_id", "rank")
    )


_SQL_FRONTIER_RANK = """
SELECT user_id, event_id, rank FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rank
  FROM events
) WHERE rank <= 5
"""


def _q_politeness_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    delay = F.lit(500) + F.pmod(F.col("user_id"), F.lit(7)) * 100
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("user_id", "event_id", "rank", ((F.col("rank") - 1) * delay).cast("long").alias("sched_ms"))
    )


_SQL_POLITENESS = """
SELECT user_id, event_id, rank, CAST((rank - 1) * (500 + (user_id % 7) * 100) AS BIGINT) AS sched_ms
FROM (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rank
  FROM events
) WHERE rank <= 10
"""


def _q_topk_recency(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(_t(sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        o.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", F.col("rk").alias("recency_rank"))
    )


_SQL_TOPK_RECENCY = """
SELECT o_custkey, o_orderkey, rk AS recency_rank FROM (
  SELECT o_custkey, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
  FROM orders
) WHERE rk <= 3
"""


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


def _q_zip_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 50)
    return d.select("doc_id", F.posexplode(F.split(F.col("text"), r"\s+")).alias("pos", "word")).select(
        "doc_id", (F.col("pos") + 1).cast("long").alias("pos"), "word"
    )


_SQL_ZIP_POSITIONAL = """
SELECT doc_id,
       generate_subscripts(string_split_regex(text, '\\s+'), 1) AS pos,
       unnest(string_split_regex(text, '\\s+')) AS word
FROM documents WHERE doc_id < 50
"""

# --- pricing: shared synthetic car inputs from lineitem --------------------

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


def _q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    digits = F.regexp_extract(F.col("props"), r"(\d+)", 1)
    return ev.select(
        "event_id",
        F.nullif(digits, F.lit("")).alias("k_str"),
        F.nullif(digits, F.lit("")).cast("long").alias("k_int"),
    )


_SQL_REGEX_EXTRACT = """
SELECT event_id,
       nullif(regexp_extract(props, '(\\d+)', 1), '') AS k_str,
       CAST(nullif(regexp_extract(props, '(\\d+)', 1), '') AS BIGINT) AS k_int
FROM events
"""


def _q_digit_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    stripped = F.regexp_replace(F.col("props"), "[^0-9]", "")
    return ev.select(
        "event_id",
        F.when(stripped == "", F.lit(0)).otherwise(stripped.cast("long")).alias("digits_int"),
    )


_SQL_DIGIT_STRIP = """
SELECT event_id,
       CASE WHEN regexp_replace(props, '[^0-9]', '', 'g') = '' THEN 0
            ELSE CAST(regexp_replace(props, '[^0-9]', '', 'g') AS BIGINT) END AS digits_int
FROM events
"""


def _q_binning_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(_t(sf_dir, "lineitem")).filter(F.col("l_orderkey") % 10 == 0)
    qty = F.col("l_quantity")
    price = F.col("l_extendedprice")
    qty_tag = (
        F.when(qty < 10, "Menge_klein").when((qty > 10) & (qty < 30), "Menge_mittel")
        .when((qty > 30) & (qty < 45), "Menge_gross").otherwise("Menge_Alle")
    )
    price_tag_ = (
        F.when(price <= 20000, "Preis_Günstig").when((price > 20000) & (price <= 50000), "Preis_Mittel")
        .otherwise("Preis_Premium")
    )
    return li.select("l_orderkey", "l_linenumber", qty_tag.alias("qty_tag"), price_tag_.alias("price_tag"))


_SQL_BINNING = """
SELECT l_orderkey, l_linenumber,
  CASE WHEN l_quantity < 10 THEN 'Menge_klein'
       WHEN l_quantity > 10 AND l_quantity < 30 THEN 'Menge_mittel'
       WHEN l_quantity > 30 AND l_quantity < 45 THEN 'Menge_gross'
       ELSE 'Menge_Alle' END AS qty_tag,
  CASE WHEN l_extendedprice <= 20000 THEN 'Preis_Günstig'
       WHEN l_extendedprice > 20000 AND l_extendedprice <= 50000 THEN 'Preis_Mittel'
       ELSE 'Preis_Premium' END AS price_tag
FROM lineitem WHERE l_orderkey % 10 = 0
"""


def _q_age_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(_t(sf_dir, "orders"))
    age_days = F.datediff(F.lit(RUN_DATE).cast("date"), F.col("o_orderdate").cast("date"))
    tag = (
        F.when(age_days < 730, "Alter_unter2")
        .when((age_days > 730) & (age_days < 1825), "Alter_2bis5")
        .otherwise("Alter_Alle")
    )
    return o.select("o_orderkey", age_days.cast("long").alias("age_days"), tag.alias("alter_tag"))


_SQL_AGE_BINNING = f"""
SELECT o_orderkey,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '{RUN_DATE}') AS age_days,
       CASE WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '{RUN_DATE}') < 730 THEN 'Alter_unter2'
            WHEN date_diff('day', CAST(o_orderdate AS DATE), DATE '{RUN_DATE}') > 730
                 AND date_diff('day', CAST(o_orderdate AS DATE), DATE '{RUN_DATE}') < 1825 THEN 'Alter_2bis5'
            ELSE 'Alter_Alle' END AS alter_tag
FROM orders
"""


def _q_array_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spark.read.parquet(_t(sf_dir, "documents")).filter(F.col("doc_id") < 100)
    words = F.split(F.col("text"), r"\s+")
    merged = F.concat(F.slice(words, 1, 3), F.slice(words, 5, 2))
    return d.select("doc_id", F.array_join(merged, ",").alias("merged_words"))


_SQL_ARRAY_CONCAT = """
SELECT doc_id,
       array_to_string(list_concat(list_slice(string_split_regex(text,'\\s+'), 1, 3),
                                   list_slice(string_split_regex(text,'\\s+'), 5, 6)), ',') AS merged_words
FROM documents WHERE doc_id < 100
"""


def _q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.parquet(_t(sf_dir, "customer")).select(F.col("c_nationkey").alias("nationkey"))
    s = spark.read.parquet(_t(sf_dir, "supplier")).select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


_SQL_UNION_DISTINCT = """
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey AS nationkey FROM supplier
"""


def _q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ts_ltz = F.col("ts").cast("timestamp")
    gap = F.unix_millis(ts_ltz) - F.unix_millis(F.lag(ts_ltz).over(w))
    is_new = F.when(gap.isNull() | (gap > 600_000), 1).otherwise(0)
    sess = F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return ev.select("user_id", "event_id", sess.cast("long").alias("session_id"))


_SQL_SESSIONIZE = """
SELECT user_id, event_id,
       CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
FROM (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 600000
              THEN 1 ELSE 0 END AS is_new
  FROM events
)
"""


def _q_wave_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spark.read.parquet(_t(sf_dir, "events"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


_SQL_WAVE_METRICS = """
SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value, round(avg(value), 4) AS avg_value
FROM events GROUP BY event_type
"""


def _q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = spark.read.parquet(_t(sf_dir, "orders"))
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    run = F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return o.select("o_custkey", "o_orderkey", F.round(run, 2).alias("running_total"))


_SQL_RUNNING_SUM = """
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
FROM orders
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


def _q_corpus_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus coverage report via ROLLUP (A5 in SURVEY §2.4): doc count,
    char mass, and token mass per (source, lang), per source, and grand
    total in ONE pass — Spark's Expand operator replicates each input row
    per grouping set before a single hash aggregation, so the three
    report levels cost one shuffle instead of three jobs. grouping_id
    disambiguates genuine NULL keys from subtotal rows."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    return (
        d.rollup("source", "lang")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(_token_count(F.col("text"))).alias("sum_tokens"),
        )
        .select("source", "lang", "gid", "n_docs", "sum_chars", "sum_tokens")
    )


_SQL_CORPUS_ROLLUP = r"""
SELECT source, lang, grouping(source, lang)::BIGINT AS gid,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars,
       sum(CASE WHEN trim(text) = '' THEN 0
                ELSE len(string_split_regex(trim(text), '\s+')) END)::BIGINT AS sum_tokens
FROM documents
GROUP BY ROLLUP (source, lang)
"""


def _q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-quality filtering (L35 in SURVEY §2.10): deterministic URLs
    planted with each violation class — blocklist keyword, 10-deep path,
    8-param query, digit-heavy slug, tracking params — scored into
    integer features + a first-failing-rule verdict, all codegen
    (operators/urlfilter.py)."""
    from webscraper_spark.operators.urlfilter import url_filter

    d = spark.read.parquet(_t(sf_dir, "documents")).select("doc_id")
    i = F.col("doc_id")
    seg = F.concat(F.lit("/s"), (i % 9).cast("string"))
    path = F.when(
        i % 17 == 0,
        F.concat(*([seg] * 9), F.lit("/leaf")),  # depth 10
    ).otherwise(F.concat(F.lit("/cat"), seg, F.lit("/item-"), i.cast("string")))
    path = F.when(
        i % 13 == 0, F.concat(F.lit("/p/"), (i * 7919).cast("string"))
    ).otherwise(path)
    path = F.when(i % 23 == 0, F.lit("/best-casino-bonus")).otherwise(path)
    query = (
        F.when(
            i % 19 == 0,
            F.lit("?a=1&b=2&c=3&d=4&e=5&f=6&g=7"),
        )
        .when(i % 7 == 0, F.concat(F.lit("?id="), i.cast("string"), F.lit("&utm_source=feed")))
        .when(i % 2 == 0, F.concat(F.lit("?page="), (i % 50).cast("string")))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        F.lit("https://h"), (i % 40).cast("string"), F.lit(".example.com"), path, query
    )
    return url_filter(d.select("doc_id", url.alias("url")))


def _sql_url_filter() -> str:
    # Mirrors the synthesis AND the feature/verdict rules of
    # operators/urlfilter.py (BLOCK_KEYWORDS alternation, depth/param
    # caps, digit cross-multiplication, tracking regex).
    return r"""
WITH u AS (
  SELECT doc_id,
    CASE WHEN doc_id % 23 = 0 THEN '/best-casino-bonus'
         WHEN doc_id % 13 = 0 THEN '/p/' || (doc_id * 7919)::VARCHAR
         WHEN doc_id % 17 = 0 THEN repeat('/s' || (doc_id % 9)::VARCHAR, 9) || '/leaf'
         ELSE '/cat/s' || (doc_id % 9)::VARCHAR || '/item-' || doc_id::VARCHAR END AS path,
    CASE WHEN doc_id % 19 = 0 THEN '?a=1&b=2&c=3&d=4&e=5&f=6&g=7'
         WHEN doc_id % 7 = 0 THEN '?id=' || doc_id::VARCHAR || '&utm_source=feed'
         WHEN doc_id % 2 = 0 THEN '?page=' || (doc_id % 50)::VARCHAR
         ELSE '' END AS query
  FROM documents
),
feat AS (
  SELECT doc_id, path,
    'https://h' || (doc_id % 40)::VARCHAR || '.example.com' || path || query AS url,
    (len(string_split(path, '/')) - 1)::INT AS depth,
    (CASE WHEN query = '' THEN 0 ELSE len(string_split(ltrim(query, '?'), '&')) END)::INT AS n_params,
    regexp_extract(path, '([^/]*)$', 1) AS slug,
    (CASE WHEN query = '' THEN ''::VARCHAR ELSE ltrim(query, '?') END) AS qs
  FROM u
),
f2 AS (
  SELECT doc_id, url, depth, n_params,
    length(slug)::INT AS slug_len,
    length(regexp_replace(slug, '[^0-9]', '', 'g'))::INT AS slug_digits,
    regexp_matches(qs, '(^|&)(utm_[a-z]+|gclid|fbclid|ref|mc_eid)=') AS has_tracking,
    regexp_matches('h' || (doc_id % 40)::VARCHAR || '.example.com' || path,
                   '(casino|viagra|warez|phishing|malware)') AS blocked_kw
  FROM feat
)
SELECT doc_id, url, depth, n_params, slug_len, slug_digits, has_tracking, blocked_kw,
  CASE WHEN blocked_kw THEN 'drop:blocklist'
       WHEN depth > 8 THEN 'drop:depth'
       WHEN n_params > 6 THEN 'drop:params'
       WHEN slug_len >= 4 AND slug_digits * 2 > slug_len * 1 THEN 'drop:digits'
       WHEN has_tracking THEN 'keep:strip_tracking'
       ELSE 'keep' END AS verdict
FROM f2
"""


_MIME_MAGIC_PY = {
    0: b"\xff\xd8\xff\xe0",
    1: b"\x89PNG",
    2: b"GIF8",
    3: b"%PDF",
    4: b"PK\x03\x04",
    5: b"\x1f\x8b\x08",
}
_MIME_LABEL = {
    0: ("image/jpeg", "multimodal"),
    1: ("image/png", "multimodal"),
    2: ("image/gif", "multimodal"),
    3: ("application/pdf", "archive"),
    4: ("application/zip", "archive"),
    5: ("application/gzip", "archive"),
    6: ("text/html", "extract"),
    7: ("application/octet-stream", "quarantine"),
}


def _q_mime_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIME sniffing + modality routing (S14 in SURVEY §2.1): payloads
    synthesized with real magic bytes (jpeg/png/gif/pdf/zip/gzip), an
    HTML prefix, or plain text by doc_id % 8; the engine sniffs the
    leading bytes (hex-prefix CASE, pure codegen — operators/mime.py)
    and routes each record to its processing lane. The oracle derives
    the expected label from the synthesis rule, so a broken sniffer
    cannot pass."""
    from webscraper_spark.operators.mime import route_by_mime

    d = spark.read.parquet(_t(sf_dir, "documents"))
    m = F.col("doc_id") % 8
    payload = None
    for k, magic in _MIME_MAGIC_PY.items():
        c = F.concat(F.lit(magic), F.encode(F.col("text"), "utf-8"))
        payload = F.when(m == k, c) if payload is None else payload.when(m == k, c)
    payload = payload.when(
        m == 6, F.encode(F.concat(F.lit("  <html><body>"), F.col("text")), "utf-8")
    ).otherwise(F.encode(F.concat(F.lit("plain "), F.col("text")), "utf-8"))
    routed = route_by_mime(d.select("doc_id", payload.alias("payload")))
    return routed.select(
        "doc_id", "mime", "lane", F.length("payload").cast("long").alias("n_bytes")
    )


def _sql_mime_route() -> str:
    label_cases = "\n".join(
        f"       WHEN doc_id % 8 = {k} THEN '{mime}'" for k, (mime, _) in _MIME_LABEL.items()
    )
    lane_cases = "\n".join(
        f"       WHEN doc_id % 8 = {k} THEN '{lane}'" for k, (_, lane) in _MIME_LABEL.items()
    )
    magic_len = {k: len(v) for k, v in _MIME_MAGIC_PY.items()}
    len_cases = "\n".join(
        f"       WHEN doc_id % 8 = {k} THEN {n}" for k, n in magic_len.items()
    )
    return f"""
SELECT doc_id,
  CASE {label_cases} END AS mime,
  CASE {lane_cases} END AS lane,
  (octet_length(encode(text)) +
   CASE {len_cases}
        WHEN doc_id % 8 = 6 THEN octet_length(encode('  <html><body>'))
        ELSE octet_length(encode('plain ')) END)::BIGINT AS n_bytes
FROM documents
"""


def _q_event_window_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event rates (A7 in SURVEY §2.4): per event_type x
    6-hour bucket — event count, EXACT distinct users, and an integer-
    exact value mass. Three discipline choices make it oracle-able:
    (a) the bucket is epoch-floor integer arithmetic, not F.window()
    (same result — Spark's tumbling window IS epoch-floored — but a
    BIGINT start avoids session-timezone rendering entirely);
    (b) value mass sums CAST(floor(value*1000) AS BIGINT) — summing the
    raw doubles is addition-order-dependent and unverifiable;
    (c) countDistinct is exact (Spark expands it to a two-level agg)."""
    d = spark.read.parquet(_t(sf_dir, "events"))
    # ANSI mode forbids CAST(timestamp AS LONG); unix_seconds is the
    # sanctioned epoch accessor (NTZ -> LTZ cast is exact: session tz is
    # UTC engine-wide, session.py).
    bucket = (F.expr("unix_seconds(CAST(ts AS TIMESTAMP)) div 21600") * 21600).alias(
        "bucket_start"
    )
    return (
        d.groupBy("event_type", bucket)
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_millis"),
        )
        .select("event_type", "bucket_start", "n_events", "n_users", "value_millis")
    )


_SQL_EVENT_WINDOW_RATES = """
SELECT event_type,
       (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS bucket_start,
       count(*)::BIGINT AS n_events,
       count(DISTINCT user_id)::BIGINT AS n_users,
       sum(CAST(floor(value * 1000) AS BIGINT))::BIGINT AS value_millis
FROM events
GROUP BY event_type, bucket_start
"""


def _q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON extraction (P6 in SURVEY §2.2): events.props
    parsed with Spark's native from_json (schema'd, JVM Jackson path —
    the JSONL lingua franca of corpus pipelines), aggregated per
    event_type with integer-exact sum/min/max. The oracle extracts the
    field with a regexp instead of a JSON parser — an independent
    derivation, so a from_json regression cannot self-confirm."""
    d = spark.read.parquet(_t(sf_dir, "events"))
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        d.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


_SQL_JSON_PROPS = r"""
WITH x AS (
  SELECT event_type,
         TRY_CAST(regexp_extract(props, '"k": *(-?[0-9]+)', 1) AS BIGINT) AS k
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n_events, count(k)::BIGINT AS n_with_k,
       sum(k)::BIGINT AS sum_k, min(k)::BIGINT AS min_k, max(k)::BIGINT AS max_k
FROM x GROUP BY event_type
"""


_PIVOT_LANGS = ("de", "en", "es", "fr", "zh")


def _q_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivoted corpus matrix (A8 in SURVEY §2.4): per-source doc count
    and char mass pivoted across the language axis —
    `groupBy(source).pivot(lang, [explicit values])` so Spark skips the
    extra distinct-values job and the whole pivot is ONE pass with
    map-side partial aggregation (an Expand-free PivotFirst plan;
    corpus reports at 10^10 scale want exactly this shape). Missing
    (source, lang) cells are coalesced to 0 to match SQL FILTER
    semantics; the oracle is plain conditional aggregation."""
    d = spark.read.parquet(_t(sf_dir, "documents"))
    p = (
        d.groupBy("source")
        .pivot("lang", list(_PIVOT_LANGS))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
    )
    z = F.lit(0).cast("long")
    cols = [F.col("source")]
    for lang in _PIVOT_LANGS:
        cols.append(F.coalesce(F.col(f"{lang}_n"), z).alias(f"{lang}_n"))
        cols.append(F.coalesce(F.col(f"{lang}_chars"), z).alias(f"{lang}_chars"))
    return p.select(*cols)


def _sql_lang_pivot() -> str:
    cells = ",\n  ".join(
        f"coalesce(count(*) FILTER (lang = '{lg}'), 0)::BIGINT AS {lg}_n,\n  "
        f"coalesce(sum(n_chars) FILTER (lang = '{lg}'), 0)::BIGINT AS {lg}_chars"
        for lg in _PIVOT_LANGS
    )
    return f"SELECT source,\n  {cells}\nFROM documents GROUP BY source"


def _q_adaptive_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive AIMD politeness backoff (L46/ST7 in SURVEY §2): events
    mapped to (host, wave, status) fetch outcomes — hosts h0-h3 start
    throttling at wave = host index (~42% 429/timeout mix, clearing the
    10% threshold), h4-h7 stay clean apart from a ~2% timeout trickle
    (under the threshold) — folded into per-host throttle streaks and
    exponentially-shifted delays (operators/backoff.py: two map-side
    aggregates + a codegen shift, no window, no UDF)."""
    from webscraper_spark.operators.backoff import adaptive_backoff

    d = spark.read.parquet(_t(sf_dir, "events"))
    i = F.col("event_id").cast("long")
    m, w = i % 8, F.expr("event_id div 8") % 4
    thr_group = (m < 4) & (w >= m)
    status = F.when(
        thr_group,
        F.when(i % 3 == 0, F.lit("429"))
        .when(i % 7 == 0, F.lit("timeout"))
        .otherwise(F.lit("ok")),
    ).otherwise(F.when(i % 50 == 0, F.lit("timeout")).otherwise(F.lit("ok")))
    outcomes = d.select(
        F.concat(F.lit("h"), m.cast("string")).alias("host"),
        w.alias("wave"),
        status.alias("status"),
    )
    return adaptive_backoff(outcomes)


_SQL_ADAPTIVE_BACKOFF = r"""
WITH o AS (
  SELECT 'h' || (event_id % 8)::VARCHAR AS host,
         ((event_id // 8) % 4)::BIGINT AS wave,
         CASE WHEN (event_id % 8) < 4 AND ((event_id // 8) % 4) >= (event_id % 8)
              THEN CASE WHEN event_id % 3 = 0 THEN '429'
                        WHEN event_id % 7 = 0 THEN 'timeout' ELSE 'ok' END
              ELSE CASE WHEN event_id % 50 = 0 THEN 'timeout' ELSE 'ok' END
         END AS status
  FROM events
),
tw AS (
  SELECT host, wave,
         (sum(CASE WHEN status IN ('429', '503', 'timeout') THEN 1 ELSE 0 END) * 10
            >= count(*) * 1) AS thr
  FROM o GROUP BY host, wave
),
ph AS (
  SELECT host, count(*)::BIGINT AS n_waves, max(wave) AS latest_wave,
         min(wave) AS first_wave,
         max(CASE WHEN NOT thr THEN wave END) AS last_clean
  FROM tw GROUP BY host
)
SELECT host, n_waves, latest_wave,
       (latest_wave - coalesce(last_clean, first_wave - 1))::INT AS throttle_streak,
       (100 * (1 << least(latest_wave - coalesce(last_clean, first_wave - 1), 6)))::BIGINT
         AS delay_ms
FROM ph
"""


def _q_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-vs-crawl coverage audit (J5 in SURVEY §2.3): the
    declared URL set (sitemap, 2/3 of pages) full-outer-joined with the
    discovered set (crawl order, 3/4 of pages) on url, classified into
    both / gap (declared but never crawled — scheduling debt) / orphan
    (crawled but undeclared — discovered via links only), rolled up per
    host. The operational report every large crawl runs after each wave;
    composition of the bucketed url equi-join (J1) machinery."""
    d = spark.read.parquet(_t(sf_dir, "documents")).select("doc_id")
    i = F.col("doc_id").cast("long")
    host = F.concat(F.lit("h"), (i % 6).cast("string"), F.lit(".ex"))
    url = F.concat(F.lit("https://"), host, F.lit("/p/"), i.cast("string"))
    sm = d.filter(i % 3 != 2).select(url.alias("url"), host.alias("h_sm"))
    cr = d.filter(i % 4 != 3).select(url.alias("url"), host.alias("h_cr"))
    j = sm.join(cr, "url", "full_outer").select(
        F.coalesce("h_sm", "h_cr").alias("host"),
        F.col("h_sm").isNotNull().alias("in_sitemap"),
        F.col("h_cr").isNotNull().alias("in_crawl"),
    )
    both = (F.col("in_sitemap") & F.col("in_crawl")).cast("long")
    gap = (F.col("in_sitemap") & ~F.col("in_crawl")).cast("long")
    orphan = (~F.col("in_sitemap") & F.col("in_crawl")).cast("long")
    return j.groupBy("host").agg(
        F.sum(F.col("in_sitemap").cast("long")).alias("n_sitemap"),
        F.sum(F.col("in_crawl").cast("long")).alias("n_crawled"),
        F.sum(both).alias("n_both"),
        F.sum(gap).alias("n_gap"),
        F.sum(orphan).alias("n_orphan"),
    )


_SQL_COVERAGE_AUDIT = """
WITH u AS (
  SELECT doc_id, 'h' || (doc_id % 6)::VARCHAR || '.ex' AS host,
         'https://h' || (doc_id % 6)::VARCHAR || '.ex/p/' || doc_id::VARCHAR AS url
  FROM documents
),
sm AS (SELECT url, host FROM u WHERE doc_id % 3 <> 2),
cr AS (SELECT url, host FROM u WHERE doc_id % 4 <> 3),
j AS (
  SELECT coalesce(sm.host, cr.host) AS host,
         sm.url IS NOT NULL AS in_sitemap,
         cr.url IS NOT NULL AS in_crawl
  FROM sm FULL OUTER JOIN cr USING (url)
)
SELECT host,
       sum(CASE WHEN in_sitemap THEN 1 ELSE 0 END)::BIGINT AS n_sitemap,
       sum(CASE WHEN in_crawl THEN 1 ELSE 0 END)::BIGINT AS n_crawled,
       sum(CASE WHEN in_sitemap AND in_crawl THEN 1 ELSE 0 END)::BIGINT AS n_both,
       sum(CASE WHEN in_sitemap AND NOT in_crawl THEN 1 ELSE 0 END)::BIGINT AS n_gap,
       sum(CASE WHEN NOT in_sitemap AND in_crawl THEN 1 ELSE 0 END)::BIGINT AS n_orphan
FROM j GROUP BY host
"""


def _q_registered_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain grouping (L49 in SURVEY §2.10): hostnames with
    subdomain fan-out over .com / .de / two-level suffixes (.co.uk,
    .com.au) collapsed to their registrable domain
    (functions/canon.py registered_domain — PSL-style suffix+1, pure
    codegen) and rolled up to (domain, n_urls, n_hosts): the key
    politeness and budgets must use, or per-subdomain budgets hammer
    the one origin behind s1..sN.example.com."""
    from webscraper_spark.functions.canon import registered_domain

    d = spark.read.parquet(_t(sf_dir, "documents")).select("doc_id")
    i = F.col("doc_id").cast("long")
    m, k = i % 5, (i % 30).cast("string")
    host = (
        F.when(m == 0, F.concat(F.lit("s"), i.cast("string"), F.lit(".d"), k, F.lit(".co.uk")))
        .when(m == 1, F.concat(F.lit("a.b.d"), k, F.lit(".com")))
        .when(m == 2, F.concat(F.lit("d"), k, F.lit(".de")))
        .when(m == 3, F.concat(F.lit("s1.news.d"), k, F.lit(".com.au")))
        .otherwise(F.concat(F.lit("d"), k, F.lit(".com")))
    )
    t = d.select(host.alias("host"), registered_domain(host).alias("domain"))
    return t.groupBy("domain").agg(
        F.count("*").alias("n_urls"),
        F.countDistinct("host").alias("n_hosts"),
    )


def _sql_registered_domain() -> str:
    sufs = ", ".join(f"'{s}'" for s in (
        "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
        "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
        "co.nz", "co.za",
    ))
    return rf"""
WITH h AS (
  SELECT CASE doc_id % 5
    WHEN 0 THEN 's' || doc_id::VARCHAR || '.d' || (doc_id % 30)::VARCHAR || '.co.uk'
    WHEN 1 THEN 'a.b.d' || (doc_id % 30)::VARCHAR || '.com'
    WHEN 2 THEN 'd' || (doc_id % 30)::VARCHAR || '.de'
    WHEN 3 THEN 's1.news.d' || (doc_id % 30)::VARCHAR || '.com.au'
    ELSE 'd' || (doc_id % 30)::VARCHAR || '.com' END AS host
  FROM documents
),
r AS (
  SELECT host,
    CASE WHEN lower(regexp_extract(host, '([^.]+\.[^.]+)$', 1)) IN ({sufs})
              AND regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+\.[^.]+)$', 1)
         WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
         THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
         ELSE host END AS domain
  FROM h
)
SELECT domain, count(*)::BIGINT AS n_urls, count(DISTINCT host)::BIGINT AS n_hosts
FROM r GROUP BY domain
"""


def _q_stream_backoff_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming AIMD backoff driven end-to-end through a real
    stream (streaming/stream.py stream_adaptive_backoff,
    applyInPandasWithState): the adaptive-backoff outcome synthesis is
    written to parquet, read back with readStream, folded per host in
    GroupState, and the memory-sink result returned as a batch DF. The
    oracle replays the sequential fold with a running-max window (streak
    at wave w = w minus the latest clean wave <= w) — a FULL value
    oracle for a streaming stateful operator, possible because the fold
    is deterministic given all waves (cross-micro-batch state carry is
    pinned by tests/test_streaming.py)."""
    from webscraper_spark.streaming.stream import (
        run_stream_to_memory,
        stream_adaptive_backoff,
    )

    d = spark.read.parquet(_t(sf_dir, "events")).select("event_id")
    i = F.col("event_id").cast("long")
    oh = i % 6
    outcomes = d.select(
        F.concat(F.lit("sh"), oh.cast("string"), F.lit(".ex")).alias("host"),
        (F.expr("event_id div 6") % 4).cast("long").alias("wave"),
        F.when((oh % 3 == 0) & (F.expr("event_id div 6") % 4 >= oh % 4) & (i % 5 != 0), F.lit("429"))
        .otherwise(F.lit("ok"))
        .alias("status"),
    )
    # unique sink name per invocation: bench/the driver run queries twice
    # in one session, and a stopped memory query's table lingers
    _q_stream_backoff_replay._n += 1  # type: ignore[attr-defined]
    name = f"stream_backoff_replay_{_q_stream_backoff_replay._n}"  # type: ignore[attr-defined]
    tmp = tempfile.mkdtemp(prefix="ws_stream_backoff_")
    try:
        outcomes.write.mode("overwrite").parquet(tmp)
        src = spark.readStream.schema("host string, wave long, status string").parquet(tmp)
        run_stream_to_memory(stream_adaptive_backoff(src), name)
    finally:
        # the memory sink already holds every output row
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.sql(f"SELECT host, wave, throttle_streak, delay_ms FROM {name}")


_q_stream_backoff_replay._n = 0  # type: ignore[attr-defined]


_SQL_STREAM_BACKOFF = r"""
WITH o AS (
  SELECT 'sh' || (event_id % 6)::VARCHAR || '.ex' AS host,
         ((event_id // 6) % 4)::BIGINT AS wave,
         CASE WHEN (event_id % 6) % 3 = 0
                   AND ((event_id // 6) % 4) >= (event_id % 6) % 4
                   AND event_id % 5 <> 0
              THEN '429' ELSE 'ok' END AS status
  FROM events
),
tw AS (
  SELECT host, wave,
         (sum(CASE WHEN status IN ('429', '503', 'timeout') THEN 1 ELSE 0 END) * 10
            >= count(*) * 1) AS thr
  FROM o GROUP BY host, wave
),
st AS (
  SELECT host, wave, thr,
         max(CASE WHEN NOT thr THEN wave END)
           OVER (PARTITION BY host ORDER BY wave
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_clean,
         min(wave) OVER (PARTITION BY host) AS first_wave
  FROM tw
)
SELECT host, wave,
       (wave - coalesce(last_clean, first_wave - 1))::INT AS throttle_streak,
       (100 * (1 << least(wave - coalesce(last_clean, first_wave - 1), 6)))::BIGINT AS delay_ms
FROM st
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Query registry: name -> (spark, sf_dir) -> DataFrame.

    oracle_sql() has the same keys in the same order
    (tests/test_registry.py checks this).
    """
    return {
        "stream_backoff_replay": _q_stream_backoff_replay,
        "corpus_rollup": _q_corpus_rollup,
        "url_filter": _q_url_filter,
        "mime_route": _q_mime_route,
        "event_window_rates": _q_event_window_rates,
        "json_props_extract": _q_json_props,
        "lang_pivot": _q_lang_pivot,
        "adaptive_backoff": _q_adaptive_backoff,
        "coverage_audit": _q_coverage_audit,
        "registered_domain": _q_registered_domain,
        "crawl_wave_e2e": _q_crawl_wave,
        "tpch_q1_pricing_summary": _q_tpch_q1,
        "eligibility_filter": _q_eligibility_filter,
        "anti_join_seen": _q_anti_join_seen,
        "semi_join_seen": _q_semi_join_seen,
        "frontier_rank_per_host": _q_frontier_rank,
        "politeness_schedule": _q_politeness_schedule,
        "topk_recency_per_group": _q_topk_recency,
        "url_canonicalize": _q_url_canonicalize,
        "host_group_count": _q_host_group,
        "zip_positional_explode": _q_zip_positional,
        "cross_join_pricing_matrix": _q_cross_join_pricing,
        "variant_explode_counts": _q_variant_explode_counts,
        "image_rewrite": _q_image_rewrite,
        "shopify_sheet": _q_shopify_sheet,
        "search_sheet": _q_search_sheet,
        "regex_extract_fields": _q_regex_extract,
        "digit_strip_cast": _q_digit_strip,
        "binning_tags": _q_binning_tags,
        "age_binning": _q_age_binning,
        "array_concat_join": _q_array_concat,
        "union_distinct": _q_union_distinct,
        "sessionize_events": _q_sessionize,
        "wave_metrics_agg": _q_wave_metrics,
        "running_total_window": _q_running_sum,
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query, keyed and ordered as queries()."""
    return {
        "stream_backoff_replay": _SQL_STREAM_BACKOFF,
        "corpus_rollup": _SQL_CORPUS_ROLLUP,
        "url_filter": _sql_url_filter(),
        "mime_route": _sql_mime_route(),
        "event_window_rates": _SQL_EVENT_WINDOW_RATES,
        "json_props_extract": _SQL_JSON_PROPS,
        "lang_pivot": _sql_lang_pivot(),
        "adaptive_backoff": _SQL_ADAPTIVE_BACKOFF,
        "coverage_audit": _SQL_COVERAGE_AUDIT,
        "registered_domain": _sql_registered_domain(),
        "crawl_wave_e2e": _sql_crawl_wave(),
        "tpch_q1_pricing_summary": _SQL_TPCH_Q1,
        "eligibility_filter": _SQL_ELIGIBILITY,
        "anti_join_seen": _SQL_ANTI_JOIN,
        "semi_join_seen": _SQL_SEMI_JOIN,
        "frontier_rank_per_host": _SQL_FRONTIER_RANK,
        "politeness_schedule": _SQL_POLITENESS,
        "topk_recency_per_group": _SQL_TOPK_RECENCY,
        "url_canonicalize": _SQL_CANONICALIZE,
        "host_group_count": _SQL_HOST_GROUP,
        "zip_positional_explode": _SQL_ZIP_POSITIONAL,
        "cross_join_pricing_matrix": _SQL_PRICED,
        "variant_explode_counts": _SQL_VARIANT_COUNTS,
        "image_rewrite": _SQL_IMAGE_REWRITE,
        "shopify_sheet": _sql_shopify_sheet(),
        "search_sheet": _sql_search_sheet(),
        "regex_extract_fields": _SQL_REGEX_EXTRACT,
        "digit_strip_cast": _SQL_DIGIT_STRIP,
        "binning_tags": _SQL_BINNING,
        "age_binning": _SQL_AGE_BINNING,
        "array_concat_join": _SQL_ARRAY_CONCAT,
        "union_distinct": _SQL_UNION_DISTINCT,
        "sessionize_events": _SQL_SESSIONIZE,
        "wave_metrics_agg": _SQL_WAVE_METRICS,
        "running_total_window": _SQL_RUNNING_SUM,
    }
