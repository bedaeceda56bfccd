"""Byte-identical extraction invariant (BASELINE.json input_hint) and
field-level extraction checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraper_spark.functions.extract import extracted_text, listing_text
from webscraper_spark.functions.extract_pandas import with_extraction_arrow


def _extracted(spark, corpus_dir):
    pages = spark.read.parquet(corpus_dir["pages"])
    return with_extraction_arrow(pages)


def test_detail_text_byte_identical(spark, corpus_dir):
    ex = _extracted(spark, corpus_dir).filter(F.col("x_status") == "ok")
    bad = ex.withColumn("rb", extracted_text()).filter(
        (F.col("rb") != F.col("text")) | F.col("rb").isNull() | F.col("text").isNull()
    )
    assert bad.count() == 0


def test_listing_text_byte_identical(spark, corpus_dir):
    ex = _extracted(spark, corpus_dir).filter(F.col("x_status") == "listing")
    bad = ex.withColumn("rb", listing_text()).filter(F.col("rb") != F.col("text"))
    assert bad.count() == 0


def test_malformed_pages_quarantined(spark, corpus_dir):
    ex = _extracted(spark, corpus_dir)
    # every err row has null ground-truth text (they are the malformed ones)
    assert ex.filter((F.col("x_status") == "err") & F.col("text").isNotNull()).count() == 0
    assert ex.filter((F.col("x_status") != "err") & F.col("text").isNull()).count() == 0
    # ~2% of details malformed
    n_err = ex.filter(F.col("x_status") == "err").count()
    n_det = ex.filter(F.col("x_status") != "listing").count()
    assert 0 < n_err < 0.05 * n_det


def test_nullable_fields_present_and_absent(spark, corpus_dir):
    ex = _extracted(spark, corpus_dir).filter(F.col("x_status") == "ok")
    for col in ["x_ez", "x_consumption", "x_co2", "x_damage", "x_country"]:
        n_null = ex.filter(F.col(col).isNull()).count()
        n_tot = ex.count()
        assert 0 < n_null < 0.2 * n_tot, f"{col}: {n_null}/{n_tot}"


def test_dealer_rating_extraction(spark, corpus_dir):
    """Rating block is host-level: both fields null together (~25% of hosts,
    the reference's has_css? guard) and rating parses as 3.0-4.9."""
    ex = _extracted(spark, corpus_dir).filter(F.col("x_status") == "ok")
    n_tot = ex.count()
    n_null = ex.filter(F.col("x_dealer_rating").isNull()).count()
    assert 0 < n_null < n_tot
    assert ex.filter(
        F.col("x_dealer_rating").isNull() != F.col("x_quantity_ratings").isNull()
    ).count() == 0
    vals = ex.filter(F.col("x_dealer_rating").isNotNull()).select(
        F.col("x_dealer_rating").cast("double").alias("r"), "x_quantity_ratings"
    )
    assert vals.filter((F.col("r") < 3.0) | (F.col("r") > 4.9)).count() == 0
    assert vals.filter(~F.col("x_quantity_ratings").rlike(r"^\(\d+\)$")).count() == 0


def test_reference_regex_semantics(spark):
    """Spot-check Ruby regex reproductions against hand-derived values
    (reference car_dealers_controller.rb:166-172, cars_controller.rb:239-242)."""
    html = (
        '<html><body><div id="des"><h3 class="ad-title">BMW 320d</h3>'
        '<div class="vehicleMainInfo"><strong class="category">SUV</strong>'
        '<span class="attributes">12.345 km, 110 kW (150 PS), Diesel, EZ 03/2019, Automatik</span>'
        '<strong class="price">21.990 € Brutto</strong></div>'
        '<address><strong>Autohaus X</strong><div class="addressData">Hauptstrasse 7, 30159 Hannover</div></address>'
        '<span class="phone">Tel.: +49 511 12345</span>'
        "</body></html>"
    )
    df = spark.createDataFrame([(html.encode(),)], "html binary")
    row = with_extraction_arrow(df).collect()[0]
    assert row.x_km_cell == "12.345 km"
    assert row.x_power_cell == "110 kW (150 PS)"
    assert row.x_fuel == "Diesel"
    assert row.x_ez == "03/2019"
    assert row.x_price_cell == "21.990 €"
    assert row.x_transmission == "Automatik"
    assert row.x_postal_code == "30159"
    assert row.x_dealer_city == "Hannover"
    assert row.x_phone == "+49 511 12345"
    assert row.x_category == "SUV"
    assert row.x_dealer_street == "Hauptstrasse 7,"
    assert row.x_dealer_name == "Autohaus X"
    assert row.x_address_raw == "Hauptstrasse 7, 30159 Hannover"


def test_outlinks_in_document_order(spark):
    html = b'<a href="https://h.example/b">x</a><a href="https://h.example/a">y</a>'
    df = spark.createDataFrame([(html,)], "html binary")
    row = with_extraction_arrow(df).collect()[0]
    assert row.x_outlinks == ["https://h.example/b", "https://h.example/a"]
    assert row.x_outlinks_canon == ["https://h.example/b", "https://h.example/a"]


def test_null_and_fieldless_html(spark):
    """Null HTML yields null fields; a page without any extracted block
    yields null scalars and empty collections. Both are status 'err'."""
    from webscraper_spark.functions.extract_pandas import X_STRUCT

    df = spark.createDataFrame([("u1", None), ("u2", b"<html><body>x</body></html>")], "url string, html binary")
    rows = {r.url: r for r in with_extraction_arrow(df).collect()}
    names = [f.name for f in X_STRUCT.fields]
    assert {n: rows["u1"][n] for n in names} == dict.fromkeys(names)
    assert rows["u1"].x_status == "err"

    arrays = ["x_features", "x_images", "x_outlinks", "x_outlinks_canon"]
    blank = rows["u2"]
    assert blank.x_attr_map == {}
    assert {n: blank[n] for n in arrays} == {n: [] for n in arrays}
    assert blank.x_is_listing is False
    scalars = [n for n in names if n not in arrays + ["x_attr_map", "x_is_listing"]]
    assert {n: blank[n] for n in scalars} == dict.fromkeys(scalars)
    assert blank.x_status == "err"


def test_extraction_is_one_arrow_udf_in_one_projection(spark):
    # one Python evaluation per row, its struct fields unpacked after the
    # input columns, then the derived status
    from webscraper_spark.functions.extract_pandas import X_STRUCT

    df = spark.createDataFrame(
        [(i, f"https://h.ex/{i}", bytearray(b"<h1>t</h1>")) for i in range(4)],
        "doc_id long, url string, html binary",
    )
    out = with_extraction_arrow(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert out.columns == df.columns + X_STRUCT.fieldNames() + ["x_status"]
