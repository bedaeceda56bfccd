"""Local emulation of the driver's correctness gate: run every queries()
entry and its oracle_sql() side-by-side at sf0.01, compare row count +
column names + order-insensitive values. Usage:

    PYTHONPATH=/root/repo python3 tools/check_entry.py [sf_dir] [query ...]

Set CHECK_ENTRY_JSON=/path/out.json to also write a per-query result
artifact in the driver's CORRECTNESS_r{N}.json shape (round-4 verdict
item #1: commit a full-registry result artifact every round, so queries
beyond the driver's ~50-query correctness window still have a recorded
oracle check).
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from webscraper_spark.session import get_spark  # noqa: E402

TABLES = ("lineitem", "events")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        dt = str(df[c].dtype)
        if df[c].dtype == object:
            df[c] = df[c].map(lambda v: None if v is None else str(v))
        elif dt.startswith("float"):
            df[c] = df[c].round(9)
        elif "int" in dt.lower():
            df[c] = df[c].astype("Int64")
        elif dt.startswith("datetime"):
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), na_position="first").reset_index(drop=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="check_entry")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    record: dict[str, dict] = {}

    def _rec(name, rows_match, schema_match, hash_match, s_rows, o_rows, err, sec):
        record[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": s_rows,
            "oracle_rows": o_rows, "err": err, "sec": round(sec, 2),
        }

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            print(f"FAIL  {name}: spark error {str(e)[:300]}")
            _rec(name, False, False, False, None, None, f"spark: {str(e)[:300]}", time.time() - t0)
            continue
        try:
            ddf = con.execute(oracles[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            print(f"FAIL  {name}: duckdb error {str(e)[:300]}")
            _rec(name, False, False, False, len(sdf), None, f"duckdb: {str(e)[:300]}", time.time() - t0)
            continue
        a, b = normalize(sdf), normalize(ddf)
        if list(a.columns) != list(b.columns):
            failures.append((name, f"columns differ: {list(a.columns)} vs {list(b.columns)}"))
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            _rec(name, len(a) == len(b), False, False, len(a), len(b), "columns differ", time.time() - t0)
            continue
        if len(a) != len(b):
            failures.append((name, f"row count {len(a)} vs {len(b)}"))
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            _rec(name, False, True, False, len(a), len(b), "row count differs", time.time() - t0)
            continue
        if not a.equals(b):
            neq = (a != b) & ~(a.isna() & b.isna())
            bad_rows = neq.any(axis=1)
            n_bad = int(bad_rows.sum())
            failures.append((name, f"{n_bad} mismatching rows"))
            print(f"FAIL  {name}: {n_bad}/{len(a)} mismatching rows; first:")
            idx = bad_rows.idxmax()
            print("  spark :", a.loc[idx].to_dict())
            print("  duckdb:", b.loc[idx].to_dict())
            _rec(name, True, True, False, len(a), len(b), f"{n_bad} mismatching rows", time.time() - t0)
            continue
        print(f"OK    {name}: {len(a)} rows match ({time.time()-t0:.1f}s)")
        _rec(name, True, True, True, len(a), len(b), None, time.time() - t0)

    print(f"\n{len(failures)} failures")
    for n, why in failures:
        print(f"  - {n}: {why}")
    out_json = os.environ.get("CHECK_ENTRY_JSON")
    if out_json:
        import json

        with open(out_json, "w") as f:
            json.dump({"sf_dir": sf_dir, "n_queries": len(record),
                       "n_failures": len(failures), "results": record}, f, indent=1)
        print(f"wrote {out_json}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
