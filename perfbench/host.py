"""Host context: CPU steal and iowait share over a run read from /proc, a
pure-Python calibration loop, and the peak resident memory (PSS) of this
process and all its descendants (driver Python, the JVM it launched,
Python workers)."""

from __future__ import annotations

import os
import threading
import time


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_iowait_share(before: list[int], after: list[int]) -> tuple[float, float]:
    delta = [b - a for a, b in zip(before, after)]
    # guest time is already counted in user/nice
    total = sum(delta[:8]) or 1
    return delta[7] / total, delta[4] / total


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while listing
            continue
        # the field after the parenthesised command and the state is ppid
        parent[int(name)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    out = []
    for pid in parent:
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            out.append(pid)
    return out


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size summed over ``root`` and its descendants.
    Python workers fork from a daemon and share its pages; PSS splits
    shared pages between the processes mapping them, so the sum counts
    each resident page once, where a sum of RSS would count it per fork."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def wait_gone(pids: list[int], timeout_s: float) -> None:
    """Wait until none of ``pids`` exists any more."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


class RssSampler:
    """Samples the process tree's resident memory (PSS) on a daemon thread."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak_bytes = max(self.peak_bytes, _tree_pss_bytes(root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def calibrate_ms() -> float:
    """Wall time of a fixed pure-Python loop: on a host whose CPU is shared,
    a slow run shows up here as well as in the engine's numbers."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return (time.perf_counter() - t0) * 1000


def context(spark) -> dict:
    """What a reader needs to recognise the host a run was made on."""
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
