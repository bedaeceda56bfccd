"""Tracing for the benchmark's traced runs.

- `Tracer` keeps spans (name, start, end, parent, run id) in memory and
  writes them as one JSON file when the run ends.
- `wave_timing_spans` turns the `[wave timing]` lines that `run_crawl`
  prints under WS_DEBUG_TIMING=1 into per-phase spans.
- `self_times` gives each span's duration minus the part its children cover.
- `EventLog` reads a Spark event log (plain JSON lines) and sums task
  metrics per time window or per job description.
"""

from __future__ import annotations

import io
import json
import os
import re
import statistics
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, run_id: str, parent: int | None = None, **attrs) -> Span:
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(name, start, end, parent, run_id, len(self.spans), attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, run_id: str, **attrs):
        s = self.add(name, time.time(), float("nan"), run_id, **attrs)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        selfs = self_times(self.spans)
        doc = dict(extra)
        doc["spans"] = [dict(asdict(s), self_s=selfs[s.sid]) for s in self.spans]
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1)
        os.replace(tmp, path)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the union of its children's intervals (clipped)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.sid, []) if b > s.start and a < s.end]
        out[s.sid] = s.dur - _union_len(clipped)
    return out


# --------------------------------------------------------------------------
# run_crawl's WS_DEBUG_TIMING phase lines
# --------------------------------------------------------------------------

_TICK_RE = re.compile(r"\[wave timing\] w(\d+) (.+): ([0-9.]+)s")

# run_crawl's tick labels -> phase names used as metric suffixes
PHASES = {
    "schedule+barrier": "schedule",
    "fetch+extract+write": "fetch_extract_write",
    "fetched-footers+reread": "reread",
    "frontier-merge+write": "frontier_write",
    "manifest+frontier-footers": "manifest",
}


class _StderrTee(io.TextIOBase):
    """Passes writes through to the real stderr and timestamps each line."""

    def __init__(self, real) -> None:
        self.real = real
        self.lines: list[tuple[float, str]] = []
        self._buf = ""

    def write(self, s: str) -> int:
        self.real.write(s)
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self.lines.append((time.time(), line))
        return len(s)

    def flush(self) -> None:
        self.real.flush()


@contextmanager
def capture_wave_timing():
    """Enable run_crawl's phase lines and collect them with arrival times."""
    prev_env = os.environ.get("WS_DEBUG_TIMING")
    os.environ["WS_DEBUG_TIMING"] = "1"
    tee = _StderrTee(sys.stderr)
    sys.stderr = tee
    try:
        yield tee.lines
    finally:
        sys.stderr = tee.real
        if prev_env is None:
            del os.environ["WS_DEBUG_TIMING"]
        else:
            os.environ["WS_DEBUG_TIMING"] = prev_env


def wave_timing_spans(tracer: Tracer, lines: list[tuple[float, str]], run_id: str, parent: int) -> list[Span]:
    """One span per tick line: it ends when the line was printed and lasts
    the duration the line reports (printed to 10 ms, so a span is clipped
    to start no earlier than the previous one ended)."""
    out = []
    prev_end = float("-inf")
    for t_end, line in lines:
        m = _TICK_RE.search(line)
        if not m or m.group(2) not in PHASES:
            continue
        wave, dur = int(m.group(1)), float(m.group(3))
        start = max(t_end - dur, prev_end)
        out.append(tracer.add(f"wave.phase.{PHASES[m.group(2)]}", start, t_end, run_id, parent, wave=wave))
        prev_end = t_end
    return out


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int
    records_read: int


class EventLog:
    def __init__(self, path: str) -> None:
        self.tasks: list[Task] = []
        self.jobs: list[dict] = []  # {id, submit, description, stages}
        self.stages: dict[int, dict] = {}  # id -> {name (call site), submit, complete, tasks}
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerTaskEnd":
                    self._task(e)
                elif ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    self.jobs.append({
                        "id": e["Job ID"],
                        "submit": e["Submission Time"] / 1000.0,
                        "description": props.get("spark.job.description") or "",
                        "stages": list(e.get("Stage IDs") or []),
                    })
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    self.stages[si["Stage ID"]] = {
                        "name": si["Stage Name"].split("\n")[0],
                        "submit": si.get("Submission Time", 0) / 1000.0,
                        "complete": si.get("Completion Time", 0) / 1000.0,
                        "tasks": si["Number of Tasks"],
                    }

    @staticmethod
    def find(event_dir: str, app_id: str) -> str:
        for name in os.listdir(event_dir):
            if name.startswith(app_id) and not name.endswith(".inprogress"):
                return os.path.join(event_dir, name)
        raise FileNotFoundError(f"no finished event log for {app_id} in {event_dir}")

    def _task(self, e: dict) -> None:
        info = e["Task Info"]
        tm = e.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        im = tm.get("Input Metrics") or {}
        self.tasks.append(Task(
            stage=e["Stage ID"],
            launch=info["Launch Time"] / 1000.0,
            finish=info["Finish Time"] / 1000.0,
            run_s=tm.get("Executor Run Time", 0) / 1000.0,
            cpu_s=tm.get("Executor CPU Time", 0) / 1e9,
            gc_s=tm.get("JVM GC Time", 0) / 1000.0,
            shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
            shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            spill_b=tm.get("Disk Bytes Spilled", 0),
            records_read=im.get("Records Read", 0),
        ))

    def tasks_in(self, start: float, end: float) -> list[Task]:
        return [t for t in self.tasks if t.launch >= start and t.finish <= end]

    def jobs_in(self, start: float, end: float) -> list[dict]:
        return [j for j in self.jobs if start <= j["submit"] <= end]

    def tasks_of_jobs(self, description_prefix: str) -> list[Task]:
        stages = {s for j in self.jobs if j["description"].startswith(description_prefix) for s in j["stages"]}
        return [t for t in self.tasks if t.stage in stages]

    def spark_metrics(self, start: float, end: float) -> dict[str, float]:
        """Engine-wide task metrics for tasks inside [start, end]."""
        tasks = self.tasks_in(start, end)
        by_stage: dict[int, list[float]] = {}
        for t in tasks:
            by_stage.setdefault(t.stage, []).append(t.finish - t.launch)
        skew = 1.0
        if by_stage:
            heaviest = max(by_stage.values(), key=sum)
            med = statistics.median(heaviest)
            skew = max(heaviest) / med if med > 0 else 1.0
        mb = 1e6
        return {
            "spark.executor_run_s": sum(t.run_s for t in tasks),
            "spark.executor_cpu_s": sum(t.cpu_s for t in tasks),
            "spark.gc_s": sum(t.gc_s for t in tasks),
            "spark.shuffle_write_mb": sum(t.shuffle_write_b for t in tasks) / mb,
            "spark.shuffle_read_mb": sum(t.shuffle_read_b for t in tasks) / mb,
            "spark.spill_mb": sum(t.spill_b for t in tasks) / mb,
            "spark.tasks": float(len(tasks)),
            "spark.stage_skew": skew,
        }

    def stage_table(self, spans: list[Span]) -> list[dict]:
        """Each stage with its call site, task metrics and the innermost
        span whose interval holds the stage's submission."""
        run_s: dict[int, float] = {}
        for t in self.tasks:
            run_s[t.stage] = run_s.get(t.stage, 0.0) + t.run_s
        rows = []
        for sid, st in sorted(self.stages.items()):
            holders = [s for s in spans if s.start <= st["submit"] <= s.end]
            inner = min(holders, key=lambda s: s.dur).name if holders else None
            rows.append(dict(st, stage=sid, run_s=run_s.get(sid, 0.0), span=inner))
        return rows

    def idle_frac(self, start: float, end: float) -> float:
        """Share of [start, end] during which no task was running."""
        busy = _union_len([(max(t.launch, start), min(t.finish, end))
                           for t in self.tasks if t.finish > start and t.launch < end])
        return 1.0 - busy / (end - start)
