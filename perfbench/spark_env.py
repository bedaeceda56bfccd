"""Spark session sized to the host, from the benchmark side only.

The engine's own `get_spark` ships cluster-sized defaults (a 48g driver).
The benchmark passes its own confs through `get_spark(extra_conf=...)`:
`local[nproc]`, `task.cpus=2`, a driver heap fitted to physical RAM, and
`spark.local.dir` / warehouse / event log under the run's temp directory.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading

TASK_CPUS = 2


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: the corpus is a few hundred
    MB and other tenants share the host."""
    return max(1024, min(4096, physical_ram_mb() // 4))


def session_conf(tmp_dir: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.memory": f"{driver_memory_mb()}m",
        "spark.local.dir": os.path.join(tmp_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.python.worker.reuse": "true",
        # JVM scratch files stay in the run's directory too
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    }
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_log_dir),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def pin_thread_pools() -> None:
    """Python workers inherit this environment: one native thread each, so
    the host never runs more compute threads than it has cores."""
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"


def start_session(tmp_dir: str, event_log_dir: str | None = None):
    from webscraper_spark.session import get_spark

    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir when it is set
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_dir, "spark-local")
    spark = get_spark(
        app_name="perfbench",
        cores=host_cores(),
        task_cpus=TASK_CPUS,
        extra_conf=session_conf(tmp_dir, event_log_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop any live session, then the JVM itself, and wait for it to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # noqa: BLE001 — interrupted mid-call: the JVM is stopped below regardless
            pass
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone; the wait below decides
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def environment(spark) -> dict[str, object]:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "cores": host_cores(),
        "ram_mb": physical_ram_mb(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "master": spark.sparkContext.master,
        "task_cpus": int(spark.conf.get("spark.task.cpus")),
        "pyspark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def _parent_map() -> dict[int, int]:
    parents = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after its ')'
        parents[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return parents


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants_rss_mb(root: int) -> float:
    """RSS of every process below `root`: the driver JVM and its Python
    workers (the benchmark's own interpreter is not counted)."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parent_map().items():
        children.setdefault(ppid, []).append(pid)
    total = 0
    stack = list(children.get(root, []))
    while stack:
        pid = stack.pop()
        total += _rss_kb(pid)
        stack.extend(children.get(pid, []))
    return total / 1024.0


class PeakRss:
    """Samples descendants' RSS every `period` seconds while active."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, descendants_rss_mb(me))
            self._stop.wait(self.period)
