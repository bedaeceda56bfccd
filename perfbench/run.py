"""Repo benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload crawl_breadth --seed 1 --seconds 10 --trace 0

Run from the repository root. One client submits the next job only after
the previous one finished (closed loop, one client) until `--seconds` of
job time have been measured; at least one job always runs. Outputs are
checked against the repo's oracles between jobs, outside the timed region.

--trace 0 prints the end-to-end metrics; --trace 1 additionally runs one
traced job (spans, run_crawl phase lines, Spark event log, per-layer
replays) and prints the per-layer metrics instead. The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.
See perfbench/README.md for workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)
TMP_ROOT = os.path.join(BENCH_DIR, ".tmp")
TRACE_DIR = os.path.join(BENCH_DIR, "traces")
DEFAULT_SF = 0.01
SETUP_CYCLES = 3
WARM_UP_WAVES = 1

# end-to-end metrics per workload kind; the crawls' set is BENCHMARK.json's
E2E_UNITS = {
    "crawl": {"setup_s": "s", "job_s": "s", "urls_per_s": "1/s", "wave_s_p50": "s"},
    "dealer": {"setup_s": "s", "job_s": "s", "sheet_rows_per_s": "1/s"},
}


def _parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="job time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help="synth corpus scale factor")
    return ap.parse_args(argv)


def _engine_importable() -> bool:
    return os.path.isfile(os.path.join(REPO, "webscraper_spark", "plans", "wave.py"))


def _report(workload: str, name: str, value: float, unit: str) -> None:
    print(f"metric {workload} {name} = {value!r} {unit}")


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args: argparse.Namespace, tmp: str) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.tmp = tmp
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.generation_s: float | None = None

    # ---------------------------------------------------------------- setup
    def setup(self, event_log_dir: str | None) -> dict[str, float]:
        """Everything before the first timed job, in three timed parts:
        session start (JVM launch), input generation + load (repeated
        SETUP_CYCLES times; the median counts) and warm-up. A session is
        started once per process: pyspark UDF handles keep the first
        context's accumulator, so a restarted context is not a clean one.
        First-use corpus generation is excluded (it is cached per sf)."""
        import inputs as inp
        import spark_env

        t0 = time.time()
        self.spark = spark_env.start_session(self.tmp, event_log_dir)
        self.corpus, self.generation_s = inp.ensure_corpus(self.spark, self.args.sf)
        session_s = time.time() - t0 - (self.generation_s or 0.0)
        cycles = []
        for _ in range(SETUP_CYCLES):
            t1 = time.time()
            self.load_inputs()
            cycles.append(time.time() - t1)
        t2 = time.time()
        self.warm_up()
        return {"session_s": session_s, "inputs_s": statistics.median(cycles), "warm_up_s": time.time() - t2}

    def load_inputs(self) -> None:
        import inputs as inp
        from workloads import load

        self.inputs = inp.write_job_inputs(
            self.corpus, os.path.join(self.tmp, "inputs"), self.wl.crawl_shape, self.args.seed
        )
        self.loaded = load(self.spark, self.inputs)

    def warm_up(self) -> None:
        """Untimed, unchecked work on the run's own inputs. The first job in
        a fresh JVM is far slower (JIT, Python worker start-up, codegen of
        each plan shape). Crawls run WARM_UP_WAVES wave(s) of the job's own
        crawl. Dealer pricing generates its input, this seed's crawl_breadth
        results, then writes one sheet."""
        from workloads import crawl, dealer

        out = os.path.join(self.tmp, "warmup")
        if self.wl.kind == "crawl":
            crawl(self.spark, self.loaded, out, WARM_UP_WAVES)
        else:
            self.dealer_results = self.prepare_dealer_input()
            dealer(self.spark, self.dealer_results, out)
        shutil.rmtree(out, ignore_errors=True)

    # ------------------------------------------------------------- jobs
    def prepare_dealer_input(self) -> str:
        """This seed's crawl_breadth results: dealer pricing's input."""
        from workloads import crawl

        ckpt = os.path.join(self.tmp, "dealer_input")
        return crawl(self.spark, self.loaded, ckpt, self.wl.max_waves).paths["results"]

    def one_job(self, i: int) -> tuple[float, tuple[int, list[float]] | None]:
        """Run job i. Returns (job_s, (output rows, wave latencies)), the
        second part None if the job raised or failed its checks. Checks run
        after the clock stops."""
        from workloads import crawl, dealer

        self.attempted += 1
        out_dir = os.path.join(self.tmp, f"job{i}")
        t0 = time.time()
        try:
            if self.wl.kind == "crawl":
                res = crawl(self.spark, self.loaded, out_dir, self.wl.max_waves)
                out, rows, waves = res.paths, res.rows, res.wave_s
            else:
                out, rows, waves = out_dir, dealer(self.spark, self.dealer_results, out_dir), []
        except Exception:  # noqa: BLE001 — a failed job is counted, the loop goes on
            traceback.print_exc()
            self.failed += 1
            return time.time() - t0, None
        elapsed = time.time() - t0
        problems = self.check(out)
        shutil.rmtree(out_dir, ignore_errors=True)
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            return elapsed, None
        return elapsed, (rows, waves)

    def check(self, out) -> list[str]:
        import inputs as inp
        from workloads import check_crawl, check_dealer, pages_text

        try:
            if self.wl.kind == "crawl":
                if not hasattr(self, "_expected"):
                    self._expected = inp.oracle_crawl_digest(
                        self.wl.name, self.args.sf, self.args.seed, self.wl.max_waves, self.inputs)
                    self._text = pages_text(self.inputs.pages)
                return check_crawl(out, self._expected, self._text)
            return check_dealer(self.spark, self.dealer_results, out, self.args.seed)
        except Exception as e:  # noqa: BLE001 — a check that cannot run is a failed check
            traceback.print_exc()
            return [f"check raised {type(e).__name__}: {e}"]

    def closed_loop(self) -> list[tuple[float, int, list[float]]]:
        """Jobs back to back until `--seconds` of job time (failed attempts
        included) have passed; always at least one."""
        import spark_env

        done = []
        measured = 0.0
        with spark_env.PeakRss() as rss:
            while self.attempted == 0 or measured < self.args.seconds:
                elapsed, ok = self.one_job(self.attempted)
                measured += elapsed
                if ok is not None:
                    done.append((elapsed, *ok))
        self.peak_rss_mb = rss.peak_mb
        return done


def run(args: argparse.Namespace, tmp: str) -> dict:
    import spark_env

    r = Run(args, tmp)
    setup = r.setup(os.path.join(tmp, "eventlog") if args.trace else None)
    env = spark_env.environment(r.spark)
    print("env " + json.dumps(env, sort_keys=True))
    print("inputs " + json.dumps(r.inputs.digest(), sort_keys=True))
    if r.generation_s is not None:
        print(f"corpus sf{args.sf} generated in {r.generation_s:.3f}s (cached for later runs)")
    jobs = r.closed_loop()
    correct = not r.problems and r.failed == 0 and bool(jobs)
    for p in r.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)

    metrics: dict[str, dict] = {}
    if jobs:
        job_s = statistics.median(j[0] for j in jobs)
        rows_per_s = statistics.median(j[1] / j[0] for j in jobs)
        e2e = {"setup_s": sum(setup.values()), "job_s": job_s}
        if r.wl.kind == "crawl":
            e2e["urls_per_s"] = rows_per_s
            e2e["wave_s_p50"] = statistics.median(x for j in jobs for x in j[2])
        else:
            e2e["sheet_rows_per_s"] = rows_per_s
        units = E2E_UNITS[r.wl.kind]
        w = r.wl.name
        print(f"jobs {len(jobs)} (closed loop, 1 client); setup " + json.dumps(setup))
        for name, value in e2e.items():
            _report(w, name, value, units[name])
        # 0 when healthy (the JSON's attempted/failed carry it) and a sampled
        # RSS that swings by more than a tenth between runs: reported here,
        # kept per-layer, not gated end-to-end metrics
        _report(w, "failed_frac", r.failed / r.attempted, "ratio")
        _report(w, "peak_rss_mb", r.peak_rss_mb, "MB")
        if args.trace == 0:
            metrics = {k: {"value": v, "unit": units[k]} for k, v in e2e.items()}
        else:
            import layers

            metrics = layers.traced(r, job_s, TRACE_DIR)
            for name, m in metrics.items():
                _report(w, name, m["value"], m["unit"])
    return {"correct": correct, "attempted": r.attempted, "failed": r.failed, "metrics": metrics}


def main(argv: list[str]) -> int:
    sys.path.insert(0, BENCH_DIR)
    args = _parse(argv)
    if not _engine_importable():
        print(f"perfbench: engine package webscraper_spark not found under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    # Spark's Python workers import the engine too
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    import spark_env

    spark_env.pin_thread_pools()
    os.makedirs(TMP_ROOT, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=TMP_ROOT)
    os.environ["TMPDIR"] = tmp  # inherited by the JVM and its Python workers

    def _on_signal(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _on_signal)
    try:
        result = run(args, tmp)
    finally:
        try:
            spark_env.shutdown_jvm()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    if not result["metrics"]:
        print("perfbench: no job completed", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
