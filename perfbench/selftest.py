"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs every workload once, traced, on the smallest corpus and asserts that
each run passes its output checks and prints every metric BENCHMARK.json
names (end-to-end metrics as report lines, per-layer metrics in the final
JSON line) with the declared unit. One untraced run checks the end-to-end
JSON line, and a run from a directory holding only the benchmark must fail
without printing a result. Takes several minutes.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
SF = "0.001"
TIMEOUT_S = 600

# report lines every workload prints beyond its end-to-end metrics
ALSO_REPORTED = {"failed_frac": "ratio", "peak_rss_mb": "MB"}
_REPORT_RE = re.compile(r"^metric (\S+) (\S+) = (\S+) (\S+)$")


def _run(cwd: str, workload: str, trace: int) -> tuple[int, str]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", SF]
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=TIMEOUT_S)
    return p.returncode, p.stdout


def _result(out: str) -> dict:
    return json.loads(out.strip().splitlines()[-1])


def _check_metrics(where: str, got: dict, want: dict[str, str]) -> list[str]:
    errors = []
    for name, unit in want.items():
        if name not in got:
            errors.append(f"{where}: {name} missing")
        elif got[name] != unit:
            errors.append(f"{where}: {name} has unit {got[name]}, want {unit}")
    return errors


def main() -> int:
    sys.path.insert(0, BENCH_DIR)
    from run import E2E_UNITS
    from workloads import WORKLOADS

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    errors = _check_metrics("run.py crawl end-to-end set", E2E_UNITS["crawl"], e2e)
    gated = {w["name"] for w in spec["workloads"]}
    errors += [f"{w}: not a crawl workload" for w in gated if WORKLOADS[w].kind != "crawl"]

    for name, wl in WORKLOADS.items():
        rc, out = _run(REPO, name, trace=1)
        if rc != 0:
            errors.append(f"{name}: exit code {rc}")
            continue
        res = _result(out)
        if not res["correct"] or res["failed"]:
            errors.append(f"{name}: checks failed ({res['failed']}/{res['attempted']})")
        reported = {m.group(2): m.group(4) for m in map(_REPORT_RE.match, out.splitlines()) if m}
        errors += _check_metrics(f"{name} report", reported, {**E2E_UNITS[wl.kind], **ALSO_REPORTED})
        errors += _check_metrics(f"{name} json", {k: v["unit"] for k, v in res["metrics"].items()}, per_layer)
        print(f"{name}: traced run ok" if not errors else f"{name}: {len(errors)} errors so far", flush=True)

    rc, out = _run(REPO, "crawl_breadth", trace=0)
    res = _result(out) if rc == 0 else {"metrics": {}}
    errors += _check_metrics("untraced json", {k: v["unit"] for k, v in res["metrics"].items()}, e2e)
    if set(res["metrics"]) != set(e2e):
        errors.append(f"untraced json metrics {sorted(res['metrics'])} != {sorted(e2e)}")

    os.makedirs(os.path.join(BENCH_DIR, ".tmp"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(BENCH_DIR, ".tmp"))
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH_DIR, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".cache", ".tmp", "traces", "__pycache__"))
        rc, out = _run(bare, "crawl_breadth", trace=0)
        if rc == 0 or out.strip().startswith("{") or "correct" in out:
            errors.append("a checkout without the engine did not fail cleanly")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for e in errors:
        print("FAIL " + e)
    print("selftest " + ("passed" if not errors else f"failed ({len(errors)})"))
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
