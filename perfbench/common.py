"""Shared plumbing for the workloads: paths, the Spark session, the
process-tree memory sampler and the result record."""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
# Everything a run writes (generated tables, shuffle scratch, event logs,
# job outputs) stays under the checkout, in this ignored directory.
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4


def work_dir(*parts: str, fresh: bool = False) -> str:
    path = os.path.join(WORK, *parts)
    if fresh:
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def tmp_dir() -> str:
    return work_dir("tmp")


def spark_local_dir() -> str:
    return work_dir("spark-local")


def route_scratch() -> None:
    """Keep the scratch files of Python, of every JVM started (launcher,
    driver, spark-submit) and of Spark inside the checkout."""
    os.environ["TMPDIR"] = tmp_dir()
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = spark_local_dir()
    # no hsperfdata files in the system temp dir
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir()}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts]))


def jvm_scratch_conf() -> dict:
    return {
        "spark.local.dir": spark_local_dir(),
        "spark.sql.warehouse.dir": work_dir("warehouse"),
    }


def event_log_conf(log_dir: str) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def start_spark(app: str, log_dir: str | None = None):
    """``get_spark`` on ``local[CORES]``; the event log is on when
    ``log_dir`` is given."""
    from sparkhtml.spark.session import get_spark

    conf = jvm_scratch_conf()
    if log_dir is not None:
        conf.update(event_log_conf(log_dir))
    else:
        # a later session in the same JVM inherits the first one's conf
        conf["spark.eventLog.enabled"] = "false"
    spark = get_spark(app_name=app, cpus=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark() -> None:
    """Stop the active session, if any, then end the driver JVM that
    pyspark launched and wait for it, so no process outlives the run."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin pipe closes
        proc.stdin.close()
        proc.wait(timeout=120)


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def epoch_ms() -> float:
    return time.time() * 1000.0


class RssSampler:
    """Peak summed RSS of this process and all its descendants (driver
    JVM, Python daemon and workers, spark-submit children), read from
    ``/proc`` every ``interval`` seconds on a background thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        mem: dict[int, tuple[int, int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            # fields after the parenthesised command name
            rest = stat[stat.rfind(")") + 2:].split()
            pid = int(name)
            parent[pid] = int(rest[1])
            mem[pid] = (int(rest[20]), int(rest[21]))  # vsize, rss pages
        me = os.getpid()
        total = 0
        for pid, (vsize, pages) in mem.items():
            # a child spawned with vfork shares its parent's address space
            # until it execs: same vsize and rss, counted once
            if pid != me and mem.get(parent[pid]) == (vsize, pages):
                continue
            p = pid
            while p > 1 and p != me:
                p = parent.get(p, 0)
            if p == me:
                total += pages * self._page
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


@dataclass
class Result:
    """What one run reports: end-to-end metrics, the correctness tally
    and, in a traced run, the per-layer metrics."""

    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
    profile: dict = field(default_factory=dict)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}
