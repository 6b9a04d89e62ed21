"""Shared run machinery: the Spark session's life cycle, set-up timing,
the process-tree memory sampler, the host-noise record and the result.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import threading
import time
import uuid
from dataclasses import dataclass, field

from spans import Tracer

PAGE_MB = os.sysconf("SC_PAGE_SIZE") / (1 << 20)


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_mb(root_pid: int) -> float:
    """RSS of ``root_pid`` and all its descendants (driver, JVM, workers)."""
    parent, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(d)] = int(fields[1])
        rss[int(d)] = int(fields[21]) * PAGE_MB
    total, frontier = 0.0, [root_pid]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while frontier:
        pid = frontier.pop()
        total += rss.get(pid, 0.0)
        frontier.extend(kids.get(pid, []))
    return total


class RssSampler:
    def __init__(self, interval_s: float = 0.25):
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._interval = interval_s
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_rss_mb(os.getpid()))
            self._stop.wait(self._interval)

    def close(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class Result:
    phase_a: list[float] = field(default_factory=list)
    phase_b: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    layers: dict[str, float] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str, n: int = 1) -> None:
        """Count ``n`` attempted checks, all failed when ``ok`` is false."""
        self.attempted += n
        if not ok:
            self.failed += n
            self.notes.append(f"FAILED: {what}")


class Context:
    """One benchmark run: arguments, scratch directory, tracer and session."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.tracer = Tracer(uuid.uuid4().hex[:12])
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.spark = None
        self._stopped_sessions: list = []  # kept alive: memos key on id(spark)
        self.setup_samples: list[float] = []
        self.host: dict = {}
        self.python_workers_s = 0.0

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def set_up(self, tiny_dir: str, repeats: int = 3) -> None:
        """Start the session ``repeats`` times (stopping the previous one),
        each start followed by the q01 canary on ``tiny_dir``. The first
        sample runs from process start, so it includes imports, input
        generation and the JVM launch; the others are session restarts in
        a running JVM. The last canary is kept as the host-noise record.
        The final session's Python workers are started last, unsampled."""
        from copy_sharepoint_to_onelake_lakehousefiles_spark import all_queries, get_spark

        q01 = all_queries()["q01_pricing_summary"]
        for i in range(repeats):
            t0 = time.perf_counter()
            if self.spark is not None:
                self._stopped_sessions.append(self.spark)
                self.spark.stop()
            self.spark = get_spark(f"perfbench-{self.workload}", str(self.cores))
            self.spark.sparkContext.setLogLevel("ERROR")
            c0 = time.perf_counter()
            noop(q01(self.spark, tiny_dir))
            end = time.perf_counter()
            self.setup_samples.append(process_age_s() if i == 0 else end - t0)
        self.host = {"loadavg_1m": os.getloadavg()[0], "nproc": os.cpu_count(),
                     "spark_cores": self.cores, "canary_q01_s": end - c0}
        t0 = time.perf_counter()
        warm_python_workers(self.spark)
        self.python_workers_s = time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def warm_python_workers(spark) -> None:
    """Start the session's Python workers (pandas/Arrow path) once."""
    from pyspark.sql import functions as F

    noop(spark.range(1024).select(F.pandas_udf(lambda s: s + 1, "long")("id")))
