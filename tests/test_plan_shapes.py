"""Physical-plan regression tests for the URL filter, the MIME router,
the extraction UDF, the explicit-value pivot and the AIMD backoff.

The scale claims in the operator docstrings ("pure codegen", "no
shuffle") are properties of the PLAN, not of small-scale output — so
they get asserted here directly, the same way correctness is asserted
by oracles. A regression that silently introduces a Python eval
node or an extra Exchange into these operators would pass every value
test and still be 100x slower at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from webscraper_spark.operators.mime import route_by_mime
from webscraper_spark.operators.urlfilter import url_filter


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _urls(spark, n=64):
    return spark.createDataFrame(
        [(i, f"https://h{i % 5}.example.com/cat/item-{i}?page={i % 9}") for i in range(n)],
        "doc_id long, url string",
    )


def test_url_filter_is_pure_codegen(spark):
    plan = _plan(url_filter(_urls(spark)))
    assert "EvalPython" not in plan          # no Python UDF of any kind
    assert "Exchange" not in plan            # narrow projection, no shuffle


def test_mime_route_is_pure_codegen(spark):
    df = spark.createDataFrame([(i, b"%PDF-x") for i in range(8)], "i long, payload binary")
    plan = _plan(route_by_mime(df))
    assert "EvalPython" not in plan
    assert "Exchange" not in plan


def test_extraction_is_one_arrow_udf_in_one_projection(spark):
    # one Python evaluation per row, its struct fields unpacked after the
    # input columns, then the derived status
    from webscraper_spark.functions.extract_pandas import X_STRUCT, with_extraction_arrow

    df = spark.createDataFrame(
        [(i, f"https://h.ex/{i}", bytearray(b"<h1>t</h1>")) for i in range(4)],
        "doc_id long, url string, html binary",
    )
    out = with_extraction_arrow(df)
    assert _plan(out).count("ArrowEvalPython") == 1
    assert out.columns == df.columns + X_STRUCT.fieldNames() + ["x_status"]


def test_pivot_explicit_values_single_pass(spark):
    # lang_pivot (SURVEY A8): pivot with an EXPLICIT value list must not
    # run a distinct-values collect job — the plan is a (source, lang)
    # pre-aggregate feeding a pivotfirst aggregate, BOTH with map-side
    # partials, and no Expand node.
    df = spark.createDataFrame(
        [(f"s{i % 4}", ["de", "en", "es"][i % 3], i) for i in range(60)],
        "source string, lang string, n_chars long",
    )
    p = (
        df.groupBy("source")
        .pivot("lang", ["de", "en", "es"])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("chars"))
    )
    plan = _plan(p)
    assert plan.count("Exchange") == 2       # pre-agg + pivotfirst, nothing more
    assert "partial_pivotfirst" in plan      # pivot itself combines map-side
    assert "Expand" not in plan
    assert "EvalPython" not in plan


def test_charset_and_backoff_are_codegen(spark):
    from webscraper_spark.operators.backoff import adaptive_backoff

    oc = spark.createDataFrame(
        [(f"h{i%3}", i % 4, "ok") for i in range(24)], "host string, wave long, status string"
    )
    p2 = _plan(adaptive_backoff(oc))
    assert "EvalPython" not in p2
    assert p2.count("Exchange") == 2         # per-(host,wave) agg, then per-host
