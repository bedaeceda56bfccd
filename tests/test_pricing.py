"""Pricing matrix + variants vs the pure-Python oracle; tag derivations;
explode-count property (41 rows per eligible car); literal boundary rows
for the eligibility predicate and the tag bins."""

from __future__ import annotations

import datetime as dt
from functools import reduce

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


# --- boundary rows for the dealer predicates ------------------------------
# Expected values are typed from SURVEY.md rows P3 (eligibility), F20-F21
# (age = days / 365, bins <2 / 2-5 / else), F22 (km bins on the leading
# digit group against 20.0/50.0/80.0/100.0), F23 (power bins with the gaps
# at exactly 70/100/150 PS) and F24 (price tier <=200 / <=400 / >400). Where
# those rows leave the side of a bound open (km and age), the reference's
# strict comparisons decide: a km lead equal to a bound goes to the next bin,
# and an age of exactly 2 or 5 years falls through to Alter_Alle.

_ELIG_BASE = ("30.000 km", "20.000 €", "100 kW (136 PS)", "Diesel", "SUV")
_ELIGIBILITY_CASES = [
    # (column index in _ELIG_BASE, cell, eligible)
    (0, "1.000 km", False),
    (0, "1.001 km", True),
    (0, "59.999 km", True),
    (0, "60.000 km", False),
    (1, "29.999 €", True),
    (1, "30.000 €", False),
    (2, "209 kW (284 PS)", True),
    (2, "210 kW (286 PS)", False),  # the bound is on kW, not PS
    (3, "Benzin", True),
    (3, "Elektro", False),
    (4, "Kleinwagen", True),
    (4, "Kombi", True),
    (4, "Sportwagen", True),
    (4, "Limousine", True),
    (4, "Van / Kleinbus", False),
]


def test_eligibility_bounds(spark):
    rows = [(-1, *_ELIG_BASE)]
    for i, (col, cell, _) in enumerate(_ELIGIBILITY_CASES):
        row = list(_ELIG_BASE)
        row[col] = cell
        rows.append((i, *row))
    df = spark.createDataFrame(
        rows, "i int, x_km_cell string, x_price_cell string, x_power_cell string, x_fuel string, x_category string"
    ).select("*", F.create_map().cast("map<string,string>").alias("x_attr_map"), F.lit(None).cast("string").alias("x_co2"))
    got = {r.i: r.ok for r in with_typed(df).select("i", eligibility().alias("ok")).collect()}
    assert got == {-1: True, **{i: want for i, (_, _, want) in enumerate(_ELIGIBILITY_CASES)}}


def _tag_frame(spark, rows):
    """Literal (i, x_ez, x_km_cell, ps_i) rows plus the other with_tags inputs."""
    return spark.createDataFrame(rows, "i int, x_ez string, x_km_cell string, ps_i long").select(
        "*",
        F.lit("Car").alias("vendor"),
        F.lit("SUV").alias("x_category"),
        F.lit("Automatik").alias("x_transmission"),
        F.create_map().cast("map<string,string>").alias("x_attr_map"),
        F.lit("Diesel").alias("x_fuel"),
    )


def test_age_tag_bounds(spark):
    two = ["Alter_maximal 2 Jahre", "Alter_maximal 5 Jahre", "Alter_Alle"]
    five = ["Alter_maximal 5 Jahre", "Alter_Alle"]
    alle = ["Alter_Alle"]
    # (EZ cell, its first day, days from it to the run date, tags)
    cases = [
        ("01/2018", dt.date(2018, 1, 1), 729, two),
        ("01/2018", dt.date(2018, 1, 1), 730, alle),  # exactly 2 years
        ("01/2018", dt.date(2018, 1, 1), 731, five),
        ("01/2015", dt.date(2015, 1, 1), 1824, five),
        ("01/2015", dt.date(2015, 1, 1), 1825, alle),  # exactly 5 years
        ("01/2015", dt.date(2015, 1, 1), 1826, alle),
        (None, dt.date(2015, 1, 1), 0, alle),
    ]
    frames = [
        with_tags(_tag_frame(spark, [(i, ez, "30.000 km", 100)]), first + dt.timedelta(days=days))
        for i, (ez, first, days, _) in enumerate(cases)
    ]
    got = {r.i: r.alter_tag for r in reduce(lambda a, b: a.unionByName(b), frames).collect()}
    assert got == {i: tags for i, (*_, tags) in enumerate(cases)}


def test_km_and_power_tag_bounds(spark):
    km = lambda *caps: [f"Kilometerstand_maximal {c} km" for c in caps]  # noqa: E731
    km_cases = [
        ("5.500 km", km("20.000", "50.000", "80.000", "100.000")),
        ("19.999 km", km("20.000", "50.000", "80.000", "100.000")),
        ("20.000 km", km("50.000", "80.000", "100.000")),
        ("49.999 km", km("50.000", "80.000", "100.000")),
        ("50.000 km", km("80.000", "100.000")),
        ("79.999 km", km("80.000", "100.000")),
        ("80.000 km", km("100.000")),
        ("99.999 km", km("100.000")),
        ("100.000 km", ["Kilometerstand_Alle"]),
        ("999 km", ["Kilometerstand_Alle"]),  # leading group 999 >= 100.0
    ]
    ps = lambda band: [f"Leistung_{band}", "Leistung_Alle"]  # noqa: E731
    alle = ["Leistung_Alle"]
    ps_cases = [
        (69, ps("bis 70 PS")), (70, alle), (71, ps("70 bis 100 PS")),
        (99, ps("70 bis 100 PS")), (100, alle), (101, ps("100 bis 150 PS")),
        (149, ps("100 bis 150 PS")), (150, alle), (151, ps("150 bis 200 PS")),
        (199, ps("150 bis 200 PS")), (200, alle), (201, alle),
    ]
    rows = [(i, "01/2019", cell, 120) for i, (cell, _) in enumerate(km_cases)]
    rows += [(100 + i, "01/2019", "30.000 km", p) for i, (p, _) in enumerate(ps_cases)]
    got = {r.i: (r.km_tag, r.leistung_tag) for r in with_tags(_tag_frame(spark, rows)).collect()}
    assert [got[i][0] for i in range(len(km_cases))] == [tags for _, tags in km_cases]
    assert [got[100 + i][1] for i in range(len(ps_cases))] == [tags for _, tags in ps_cases]


def test_preis_tag_bounds(spark):
    cases = [
        (1, "Preis_Günstig (bis 200 €)"),
        (200, "Preis_Günstig (bis 200 €)"),
        (201, "Preis_Mittel (200 bis 400 €)"),
        (400, "Preis_Mittel (200 bis 400 €)"),
        (401, "Preis_Premium (ab 400 €)"),
    ]
    df = spark.createDataFrame([(p,) for p, _ in cases], "p long")
    got = [r.t for r in df.select(preis_tag(F.col("p")).alias("t")).collect()]
    assert got == [t for _, t in cases]
