"""Shared plumbing for the benchmark: work directory, Spark settings,
memory sampling, the host-steal control and small statistics helpers."""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
SPIN_ITERATIONS = 2_000_000
RSS_INTERVAL_S = 0.1


def prepare_env(work: str) -> None:
    """Environment every process the benchmark starts inherits: the repo
    on the import path (Spark's Python workers import the package from
    source), no bytecode caches, and temporary files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = tmp
    # every JVM, including the spark-submit launcher: temp files in work,
    # no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def new_workdir(name: str) -> str:
    work = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def spark_conf(
    work: str, cores: int, shuffle_partitions: int, event_log: str | None = None
) -> dict[str, str]:
    """Settings for both the in-process session and ``spark-submit``.
    Mirrors the program's session factory (``plans/session.py``) except
    that every file Spark writes stays inside ``work``."""
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "1024",
        "spark.sql.execution.arrow.maxBytesPerBatch": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def spin_s() -> float:
    """Fixed single-thread busy loop; a slow reading means the host took
    CPU away from the run."""
    t = time.perf_counter()
    x = 0
    for i in range(SPIN_ITERATIONS):
        x += i
    return time.perf_counter() - t


# --------------------------------------------------------------------------
# Memory: RSS of this process tree, sampled from /proc
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _is_python_worker(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return False
    return b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd


class RssSampler:
    """Background thread that records the peak memory of the whole process
    tree under this process (sum of RSS) and the peak RSS of any one Spark
    Python worker.  A child of a JVM that still runs the JVM's executable
    is a process the JVM is spawning, which shares the JVM's memory until
    it starts its own program; it is not counted."""

    def __init__(self):
        self.peak_tree = 0
        self.peak_worker = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def sample(self) -> None:
        kids = _children()
        total = 0
        todo = [(os.getpid(), "")]
        while todo:
            pid, parent_exe = todo.pop()
            exe = _exe(pid)
            if parent_exe.endswith("/java") and exe == parent_exe:
                continue
            rss = _rss_bytes(pid)
            total += rss
            if _is_python_worker(pid):
                self.peak_worker = max(self.peak_worker, rss)
            todo.extend((k, exe) for k in kids.get(pid, ()))
        self.peak_tree = max(self.peak_tree, total)

    @property
    def peak_tree_mb(self) -> float:
        return self.peak_tree / 1e6

    @property
    def peak_worker_mb(self) -> float:
        return self.peak_worker / 1e6
