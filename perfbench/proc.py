"""Process-tree CPU and memory from /proc, the host record, and the
session life cycle (start, stop, wait for the JVM to exit)."""
from __future__ import annotations

import hashlib
import os
import platform
import threading
import time
from typing import Dict, List, Tuple

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> List[int]:
    kids: List[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                kids.extend(int(x) for x in f.read().split())
        except OSError:
            continue
    return kids


def tree_pids(root: int) -> List[int]:
    """``root`` and all its live descendants (driver, JVM, Python
    workers)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of the tree, including children the
    live processes have already reaped."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are stat fields 14-17
        total += sum(int(x) for x in f[11:15])
    return total / _CLK


def _pss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1])
    return 0


def tree_rss_mb(root: int) -> Tuple[float, int]:
    """(resident MB, number of processes) of the tree. Each process
    counts its proportional set size, so pages shared with a fork parent
    (Python workers forked from their daemon, helper commands the JVM
    spawns) are counted once rather than once per process."""
    total, n = 0, 0
    for pid in tree_pids(root):
        try:
            total += _pss_kb(pid)
            n += 1
        except (OSError, ValueError):
            continue
    return total / 1e3, n


class RssSampler:
    """Background thread sampling the tree's summed RSS; ``peak_mb`` is
    the largest sample taken while it ran, ``peak_procs`` the number of
    processes in that sample."""

    def __init__(self, root: int, interval: float = 0.1) -> None:
        self.root, self.interval = root, interval
        self.peak_mb, self.peak_procs = 0.0, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        mb, n = tree_rss_mb(self.root)
        if mb > self.peak_mb:
            self.peak_mb, self.peak_procs = mb, n

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def jvm_heap_committed_mb(spark) -> float:
    """Heap the driver JVM has committed: the share of its resident size
    that G1's sizing, not the live data, decides."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mx.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 1e6


def md5_mops(seconds: float = 0.3) -> float:
    """Single-core md5 rate in Mops: the host-throttle probe bench.py
    records, taken once per run so a slow window shows in the result."""
    t0 = time.monotonic()
    h, c = b"x" * 64, 0
    while time.monotonic() - t0 < seconds:
        for _ in range(5000):
            h = hashlib.md5(h).digest()
        c += 5000
    return c / (time.monotonic() - t0) / 1e6


def host_record(seed: int) -> Dict:
    import pyspark
    return {
        "nproc": os.cpu_count(),
        "md5_mops": round(md5_mops(), 4),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "seed": seed,
    }


def stop_session(spark) -> None:
    """Stop Spark, shut the py4j gateway and wait for the JVM to exit
    (the Python workers are its children and exit with it)."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:                       # noqa: BLE001
            pass
    if proc is not None:
        try:
            if proc.stdin is not None:
                proc.stdin.close()        # the JVM exits when stdin closes
            proc.wait(timeout=30)
        except Exception:                       # noqa: BLE001
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None
