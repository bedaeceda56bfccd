"""Benchmark inputs: the cached synth corpus and the seeded job inputs.

The corpus is a pure function of `sf` (sources/synth.py), materialized once
per checkout under `perfbench/.cache/corpus_sf<sf>` and shared by every run.
`--seed` only picks what the engine receives: which listing pages are
seeded, their row order, and the non-canonical duplicates mixed in.
Seed tables are built in plain Python and written with pyarrow, so input
generation never runs engine code.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import random
import re
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
CORPUS_TABLES = ("pages", "seeds", "robots", "politeness")

# Breadth crawl: share of listing pages seeded and the unbounded budget row.
BREADTH_SEED_SHARE = 0.9
BREADTH_POLITENESS = [("*", 1_000_000, 100)]
# Seed noise: exact duplicates and non-canonical variants of kept seeds.
DUP_SHARE = 0.05
VARIANT_SHARE = 0.05

_LISTING_RE = re.compile(r"^https://([^/]+)/inventory\?page=(\d+)&sort=date$")


@contextmanager
def _locked(path: str):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        fcntl.flock(f, fcntl.LOCK_EX)
        try:
            yield
        finally:
            fcntl.flock(f, fcntl.LOCK_UN)


def corpus_dir(sf: float) -> str:
    return os.path.join(CACHE_DIR, f"corpus_sf{sf}")


def ensure_corpus(spark, sf: float) -> tuple[dict[str, str], float | None]:
    """Paths of the cached corpus tables, generating them on first use.

    Returns (paths, seconds spent generating — None on a cache hit). The
    build goes to a scratch directory renamed into place, so a killed run
    never leaves a half-written cache behind."""
    from webscraper_spark.sources.synth import materialize_corpus

    final = corpus_dir(sf)
    paths = {t: os.path.join(final, t) for t in CORPUS_TABLES}
    with _locked(os.path.join(CACHE_DIR, ".lock")):
        if os.path.exists(os.path.join(final, "_COMPLETE")):
            return paths, None
        scratch = f"{final}.building"
        shutil.rmtree(scratch, ignore_errors=True)
        t0 = time.time()
        materialize_corpus(spark, sf, scratch, force=True)
        elapsed = time.time() - t0
        shutil.rmtree(final, ignore_errors=True)
        os.replace(scratch, final)
    return paths, elapsed


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, file count) of every regular file under `path`."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _parquet_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def read_table(path: str, columns: list[str] | None = None) -> pa.Table:
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in _parquet_files(path)])


def parquet_rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in _parquet_files(path))


@dataclass
class JobInputs:
    """One run's engine inputs: corpus tables plus the seeded tables."""

    pages: str
    robots: str
    politeness: str
    seeds: str
    seed_urls: list[str]

    def digest(self) -> dict[str, dict[str, int]]:
        """Row counts and bytes of every input table, printed per run so a
        changed generator shows up."""
        out = {}
        for name in ("pages", "seeds", "robots", "politeness"):
            path = getattr(self, name)
            out[name] = {"rows": parquet_rows(path), "bytes": dir_bytes(path)[0]}
        return out


def _listing_pages(pages_path: str) -> dict[str, list[str]]:
    """host -> its listing-page urls in page order (page 0 first)."""
    urls = read_table(pages_path, ["url"]).column("url").to_pylist()
    by_host: dict[str, list[tuple[int, str]]] = {}
    for u in urls:
        m = _LISTING_RE.match(u)
        if m:
            by_host.setdefault(m.group(1), []).append((int(m.group(2)), u))
    return {h: [u for _, u in sorted(v)] for h, v in sorted(by_host.items())}


def _variant(url: str) -> str:
    """Non-canonical spelling of a listing url: upper-case scheme and host,
    explicit default port, swapped query order, fragment."""
    m = _LISTING_RE.match(url)
    host, page = m.group(1), m.group(2)
    return f"HTTPS://{host.upper()}:443/inventory?sort=date&page={page}#s{page}"


def seed_urls(workload_shape: str, pages_path: str, seed: int) -> list[str]:
    """Seed rows for a crawl shape ('breadth' or 'polite'), seed-chosen."""
    rng = random.Random(seed)
    listings = _listing_pages(pages_path)
    if workload_shape == "breadth":
        kept = [u for h in listings for u in listings[h] if rng.random() < BREADTH_SEED_SHARE]
    elif workload_shape == "polite":
        # one listing page per host: page 0 or 1, seed-chosen
        kept = [v[rng.randrange(min(2, len(v)))] for v in listings.values()]
    else:
        raise ValueError(f"unknown crawl shape {workload_shape!r}")
    rows = list(kept)
    for u in kept:
        r = rng.random()
        if r < DUP_SHARE:
            rows.append(u)
        elif r < DUP_SHARE + VARIANT_SHARE:
            rows.append(_variant(u))
    rng.shuffle(rows)
    return rows


def write_job_inputs(
    corpus: dict[str, str], out_dir: str, workload_shape: str, seed: int
) -> JobInputs:
    """Write the seeded tables for one run under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    urls = seed_urls(workload_shape, corpus["pages"], seed)
    seeds_dir = os.path.join(out_dir, "seeds")
    os.makedirs(seeds_dir, exist_ok=True)
    pq.write_table(
        pa.table({
            "url": pa.array(urls, pa.string()),
            "depth": pa.array([0] * len(urls), pa.int32()),
            "priority": pa.array([1.0] * len(urls), pa.float64()),
        }),
        os.path.join(seeds_dir, "part-0.parquet"),
    )
    if workload_shape == "breadth":
        pol_dir = os.path.join(out_dir, "politeness")
        os.makedirs(pol_dir, exist_ok=True)
        hosts, mx, dl = zip(*BREADTH_POLITENESS)
        pq.write_table(
            pa.table({
                "host": pa.array(hosts, pa.string()),
                "max_pages_per_wave": pa.array(mx, pa.int64()),
                "min_delay_ms": pa.array(dl, pa.int64()),
            }),
            os.path.join(pol_dir, "part-0.parquet"),
        )
    else:
        pol_dir = corpus["politeness"]
    return JobInputs(corpus["pages"], corpus["robots"], pol_dir, seeds_dir, urls)


# --------------------------------------------------------------------------
# oracle inputs and digests
# --------------------------------------------------------------------------

def oracle_tables(inputs: JobInputs) -> tuple[dict, dict, dict]:
    """(pages, robots, politeness) in the shapes oracle/seq_oracle takes."""
    t = read_table(inputs.pages, ["url", "html"])
    pages = {
        u: (h.decode("utf-8") if h is not None else None)
        for u, h in zip(t.column("url").to_pylist(), t.column("html").to_pylist())
    }
    r = read_table(inputs.robots).to_pylist()
    robots = {row["host"]: (list(row["disallow_prefixes"] or []), int(row["crawl_delay_ms"])) for row in r}
    p = read_table(inputs.politeness).to_pylist()
    politeness = {row["host"]: (int(row["max_pages_per_wave"]), int(row["min_delay_ms"])) for row in p}
    return pages, robots, politeness


def crawl_digest(order: list[tuple[str, str, int, int]], seen: dict[str, int]) -> str:
    h = hashlib.sha256()
    for row in sorted(order):
        h.update(("O\t%s\t%s\t%d\t%d\n" % row).encode())
    for u in sorted(seen):
        h.update(("S\t%s\t%d\n" % (u, seen[u])).encode())
    return h.hexdigest()


def oracle_crawl_digest(workload: str, sf: float, seed: int, max_waves: int, inputs: JobInputs) -> str:
    """seq_oracle digest for (workload, sf, seed, waves), computed once and
    cached beside the corpus."""
    from webscraper_spark.oracle.seq_oracle import crawl_oracle

    cache = os.path.join(CACHE_DIR, "oracle", f"{workload}_sf{sf}_w{max_waves}_seed{seed}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)["digest"]
    pages, robots, politeness = oracle_tables(inputs)
    order, seen, _ = crawl_oracle(pages, inputs.seed_urls, robots, politeness, max_waves=max_waves)
    digest = crawl_digest(order, seen)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    tmp = f"{cache}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"digest": digest, "order_rows": len(order), "seen_rows": len(seen)}, f)
    os.replace(tmp, cache)
    return digest
