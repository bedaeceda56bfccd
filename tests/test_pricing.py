"""Pricing matrix + variants vs the pure-Python oracle; tag derivations;
explode-count property (41 rows per eligible car)."""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraper_spark.functions.derive import (
    eligibility,
    preis_tag,
    shopify_body,
    tags_string,
    with_identity,
    with_tags,
    with_typed,
)
from webscraper_spark.functions.extract_pandas import with_extraction_arrow
from webscraper_spark.functions.pricing import (
    preis_12_s_expr,
    price_dims,
    price_matrix,
    variant_rows,
    with_car_pricing_inputs,
)
from webscraper_spark.oracle.pricing_oracle import pricing, reselling_prices


def _eligible_cars(spark, corpus_dir):
    pages = spark.read.parquet(corpus_dir["pages"])
    ex = with_extraction_arrow(pages).filter(F.col("x_status") == "ok")
    return with_car_pricing_inputs(with_typed(ex)).filter(eligibility())


def test_price_matrix_matches_oracle(spark, corpus_dir):
    cars = _eligible_cars(spark, corpus_dir)
    dims = price_dims(spark)
    mat = price_matrix(cars, dims).select(
        "url", "price_i", "ps_i", "hub_i", "x_fuel", "co2_i", "duration", "package", "preis", "reselling"
    )
    rows = mat.collect()
    assert len(rows) > 1000
    checked = 0
    for r in rows:
        fees = pricing(r.price_i, r.ps_i, r.hub_i, r.x_fuel, r.co2_i)
        resell = reselling_prices(r.price_i)
        assert fees is not None, r
        assert r.preis == fees[f"preis_{r.duration}_{r.package}"], r
        assert r.reselling == resell[f"{r.duration}_{r.package}"], r
        checked += 1
    assert checked == len(rows)


def test_preis_12_s_matches_matrix_cell(spark, corpus_dir):
    cars = _eligible_cars(spark, corpus_dir).withColumn("p12s", preis_12_s_expr())
    dims = price_dims(spark)
    cell = price_matrix(cars, dims).filter((F.col("duration") == 12) & (F.col("package") == "s"))
    bad = cell.filter(F.col("preis") != F.col("p12s"))
    assert bad.count() == 0


def test_variant_explosion_is_41_rows_per_car(spark, corpus_dir):
    cars = _eligible_cars(spark, corpus_dir)
    dims = price_dims(spark)
    v = variant_rows(price_matrix(cars, dims))
    per_car = v.groupBy("url").count()
    assert per_car.filter(F.col("count") != 41).count() == 0
    masters = v.filter(F.col("row_kind") == "master").groupBy("url").count()
    assert masters.filter(F.col("count") != 1).count() == 0


def test_unpriceable_cars_dropped(spark, corpus_dir):
    """co2-missing cars are dropped at the pricing call (reference :395
    NoMethodError rescue) — verify they never reach the matrix."""
    pages = spark.read.parquet(corpus_dir["pages"])
    ex = with_extraction_arrow(pages).filter(F.col("x_status") == "ok")
    cars = with_car_pricing_inputs(with_typed(ex)).filter(eligibility())
    n_unpriceable = cars.filter(~F.col("priceable")).count()
    assert n_unpriceable > 0  # corpus has ~10% co2-missing
    mat = price_matrix(cars, price_dims(spark))
    assert mat.select("url").distinct().count() == cars.filter(F.col("priceable")).count()


def test_tags_and_body(spark, corpus_dir):
    cars = _eligible_cars(spark, corpus_dir)
    tagged = with_tags(with_identity(cars)).withColumn(
        "preis_tag", preis_tag(preis_12_s_expr())
    ).withColumn("tags", tags_string()).withColumn("body", shopify_body())
    sample = tagged.filter(F.col("priceable")).select(
        "x_title", "vendor", "handle", "tags", "body", "x_km_cell", "ps_i"
    ).take(50)
    for r in sample:
        assert r.tags.startswith("Marke_" + r.vendor)
        assert "Zustand_Gebraucht" in r.tags
        assert r.tags.rstrip(", ").endswith(("€)",)), r.tags
        assert " " not in r.handle
        assert r.body.startswith("<p>\n<strong>Abholadresse</strong>\n")
        assert r.body.endswith("\n</p>")
        # km tag bins on the leading digit group (reference float-literal bug)
        lead = int(r.x_km_cell.split(".")[0].split(" ")[0])
        if lead < 20:
            assert "Kilometerstand_maximal 20.000 km" in r.tags
        # power tag gap at exactly 70/100/150
        if r.ps_i in (70, 100, 150):
            assert "Leistung_bis" not in r.tags and "Leistung_7" not in r.tags


def test_eligibility_counts_sane(spark, corpus_dir):
    pages = spark.read.parquet(corpus_dir["pages"])
    ex = with_extraction_arrow(pages).filter(F.col("x_status") == "ok")
    typed = with_typed(ex)
    n_all = typed.count()
    n_elig = typed.filter(eligibility()).count()
    assert 0 < n_elig < n_all
