"""Spark session life cycle, memory sampling and the environment record.

One Python process runs a ``local[k]`` Spark application with
``k = min(2, nproc)`` task slots, a 2 GiB JVM heap and ``2k`` shuffle
partitions; it never inherits ``bench.py``'s ``local[32]``/16g
defaults. Two slots leave cores for what else the run needs at the same
time (the JVM's compiler and GC threads, this Python process) and for
other load on a shared host, which would otherwise show up as noise in
the timings. Every directory Spark writes (local dir, warehouse, event
log) lives under the run's work directory inside the checkout.
"""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time
from typing import Any

MAX_SLOTS = 2
DRIVER_MEMORY = "2g"


def slots() -> int:
    return max(1, min(MAX_SLOTS, len(os.sched_getaffinity(0))))


def spark_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    k = slots()
    conf = {
        "spark.master": f"local[{k}]",
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(2 * k),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={work} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway else None
    return proc.pid if proc else None


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both.
    The JVM exits when its stdin closes; its Python workers exit with
    it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree.setdefault(ppid, []).append(int(name))
    return tree


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """RSS of ``root`` (the JVM) plus all its descendants (the Python
    worker daemon and its forked workers), in MiB."""
    tree = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kib(pid)
        todo.extend(tree.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Samples the JVM process tree's RSS every ``interval`` seconds
    between ``start`` and ``stop``; ``peak_mb`` is the largest sample."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
            self.samples += 1
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.pid))
        return self.peak_mb


def git_commit(root: str) -> str | None:
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment(root: str, seed: int, conf: dict[str, str]) -> dict[str, Any]:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "affinity_cpus": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "spark_conf": {
            "slots": slots(),
            "master": conf["spark.master"],
            "shuffle_partitions": int(conf["spark.sql.shuffle.partitions"]),
            "driver_memory": conf["spark.driver.memory"],
            "event_log": conf.get("spark.eventLog.enabled") == "true",
        },
        "seed": seed,
        "git_commit": git_commit(root),
        "started_unix": time.time(),
    }


def recognizer_ms_per_ref(n_refs: int = 64) -> float:
    """Measured cost of ``costed_stub_ocr_tokens`` per media ref on this
    host (its docstring budgets ~1-2 ms)."""
    from ocr_intern_spark.sources.corpus import costed_stub_ocr_tokens

    t0 = time.perf_counter()
    for i in range(n_refs):
        costed_stub_ocr_tokens(f"img://calibrate/{i}")
    return (time.perf_counter() - t0) * 1000.0 / n_refs
