"""The three workloads' jobs and their output checks.

Each job drives the engine's public functions exactly as a caller would:
`plans.wave.run_crawl` for the crawls, and the reference dealer pipeline
(`with_typed` -> `eligibility` -> tags -> `price_matrix` -> `variant_rows`
-> `shopify_sheet`) for dealer pricing. Checks read outputs back with
pyarrow and compare against the repo's pure-Python oracles; they run
outside the timed region.
"""

from __future__ import annotations

import glob
import os
import random
import time
from dataclasses import dataclass

import pyarrow.compute as pc

from inputs import JobInputs, crawl_digest, parquet_rows, read_table

ROWS_PER_CAR = 41
PRICED_SAMPLE = 20


@dataclass(frozen=True)
class Workload:
    name: str
    crawl_shape: str  # seeds/politeness shape of the crawl it runs or reads
    max_waves: int
    kind: str  # "crawl" or "dealer"


# why each workload exists: README.md, "Workloads"
WORKLOADS = {
    w.name: w
    for w in (
        Workload("crawl_breadth", "breadth", 2, "crawl"),
        Workload("crawl_polite", "polite", 2, "crawl"),
        Workload("dealer_pricing", "breadth", 2, "dealer"),
    )
}


@dataclass
class Loaded:
    """Engine-side DataFrames for one session."""

    pages: object
    bucketed: bool
    seeds: object
    robots: object
    politeness: object


def load(spark, inputs: JobInputs) -> Loaded:
    from webscraper_spark.sources.synth import load_pages

    pages, bucketed = load_pages(spark, inputs.pages)
    return Loaded(
        pages, bucketed,
        spark.read.parquet(inputs.seeds),
        spark.read.parquet(inputs.robots),
        spark.read.parquet(inputs.politeness),
    )


# --------------------------------------------------------------------------
# jobs
# --------------------------------------------------------------------------

@dataclass
class CrawlResult:
    paths: dict
    rows: int
    wave_s: list[float]


def crawl(spark, loaded: Loaded, ckpt: str, max_waves: int) -> CrawlResult:
    """run_crawl to completion and read the order table back."""
    from webscraper_spark.plans.wave import CrawlConfig, run_crawl

    t0 = time.time()
    paths = run_crawl(
        spark, loaded.pages, loaded.seeds, loaded.robots, loaded.politeness, ckpt,
        CrawlConfig(max_waves=max_waves, corpus_bucketed=loaded.bucketed),
    )
    rows = spark.read.parquet(paths["order"]).count()
    return CrawlResult(paths, rows, wave_latencies(ckpt, t0))


def wave_latencies(ckpt: str, started: float) -> list[float]:
    """Per-wave latency from consecutive wave=N/frontier/_SUCCESS mtimes,
    the first measured from the job start."""
    marks = []
    for d in glob.glob(os.path.join(ckpt, "wave=*", "frontier", "_SUCCESS")):
        wave = int(d.split("wave=")[1].split(os.sep)[0])
        marks.append((wave, os.path.getmtime(d)))
    times = [started] + [t for _, t in sorted(marks)]
    return [b - a for a, b in zip(times, times[1:])]


def dealer_frames(spark, results_glob: str):
    """(cars, sheet) DataFrames of the dealer pipeline over crawl results."""
    from pyspark.sql import functions as F

    from webscraper_spark.functions.derive import (
        eligibility, preis_tag, shopify_body, tags_string, with_identity, with_tags, with_typed,
    )
    from webscraper_spark.functions.pricing import (
        preis_12_s_expr, price_dims, price_matrix, variant_rows, with_car_pricing_inputs,
    )
    from webscraper_spark.functions.shopify import shopify_sheet

    results = spark.read.parquet(results_glob).filter(F.col("x_status") == "ok")
    cars = with_car_pricing_inputs(with_typed(results)).filter(eligibility())
    cars = (
        with_tags(with_identity(cars))
        .withColumn("preis_tag", preis_tag(preis_12_s_expr()))
        .withColumn("tags", tags_string())
        .withColumn("body_html", shopify_body())
    )
    sheet = shopify_sheet(variant_rows(price_matrix(cars, price_dims(spark))),
                          keys=("url", "row_kind", "duration", "package"))
    return cars, sheet


def dealer(spark, results_glob: str, out: str) -> int:
    """Write the Shopify sheet; returns its row count (parquet footers)."""
    _, sheet = dealer_frames(spark, results_glob)
    sheet.write.mode("overwrite").parquet(out)
    return parquet_rows(out)


# --------------------------------------------------------------------------
# checks (outside the timed region); each returns a list of problems
# --------------------------------------------------------------------------

def check_crawl(paths: dict, expected_digest: str, pages_text: dict[str, str | None]) -> list[str]:
    problems = []
    order = read_table(paths["order"], ["url", "host", "wave", "rank"]).to_pydict()
    seen = read_table(paths["seen"], ["url", "wave"]).to_pydict()
    got = crawl_digest(
        list(zip(order["url"], order["host"], map(int, order["wave"]), map(int, order["rank"]))),
        dict(zip(seen["url"], map(int, seen["wave"]))),
    )
    if got != expected_digest:
        problems.append("order/seen differ from seq_oracle")
    bad = ok = 0
    for d in glob.glob(paths["results"]):
        t = read_table(d, ["url", "x_status", "extracted_text"])
        t = t.filter(pc.equal(t.column("x_status"), "ok"))
        for u, x in zip(t.column("url").to_pylist(), t.column("extracted_text").to_pylist()):
            ok += 1
            bad += x is None or x != pages_text.get(u)
    if ok == 0:
        problems.append("no x_status='ok' rows extracted")
    if bad:
        problems.append(f"{bad}/{ok} ok rows' extracted_text differ from pages.text")
    return problems


def pages_text(pages_path: str) -> dict[str, str | None]:
    t = read_table(pages_path, ["url", "text"])
    return dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def check_dealer(spark, results_glob: str, sheet_path: str, seed: int) -> list[str]:
    from webscraper_spark.oracle.pricing_oracle import pricing, reselling_prices

    problems = []
    cars, _ = dealer_frames(spark, results_glob)
    inputs = {
        r["url"]: r
        for r in cars.filter("priceable").select("url", "price_i", "ps_i", "hub_i", "x_fuel", "co2_i").collect()
    }
    sheet = read_table(sheet_path, ["url", "duration", "package", "variant_price", "reselling_price"]).to_pydict()
    per_car: dict[str, list[tuple]] = {}
    for u, d, p, price, resell in zip(sheet["url"], sheet["duration"], sheet["package"],
                                     sheet["variant_price"], sheet["reselling_price"]):
        per_car.setdefault(u, []).append((int(d), p, price, resell))
    if not per_car:
        problems.append("empty sheet")
    if set(per_car) != set(inputs):
        problems.append(f"sheet cars {len(per_car)} != eligible priceable cars {len(inputs)}")
    wrong_rows = sum(len(v) != ROWS_PER_CAR for v in per_car.values())
    if wrong_rows:
        problems.append(f"{wrong_rows} cars without exactly {ROWS_PER_CAR} rows")
    sample = random.Random(seed).sample(sorted(per_car), min(PRICED_SAMPLE, len(per_car)))
    for u in sample:
        r = inputs.get(u)
        fees = r and pricing(r["price_i"], r["ps_i"], r["hub_i"], r["x_fuel"], r["co2_i"])
        if not fees:
            problems.append(f"{u}: pricing_oracle cannot price an emitted car")
            continue
        resell = reselling_prices(r["price_i"])
        for d, p, price, rs in per_car[u]:
            if price != fees[f"preis_{d}_{p}"] or rs != resell[f"{d}_{p}"]:
                problems.append(f"{u} ({d},{p}): sheet {price}/{rs} != oracle")
                break
    return problems
