"""Process-tree CPU and memory from /proc, and the Spark-free host stamp.

A Spark job runs in three kinds of process: the Python driver, the JVM
it launches, and the Python UDF workers the JVM forks.  Every figure
here is summed over the whole tree below one pid.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int):
    with open(f"/proc/{pid}/stat") as fh:
        s = fh.read()
    return s[s.rfind(")") + 2:].split()   # fields 3.. of proc(5)


def tree(root: int) -> list:
    """``root`` and all its descendants that are alive now."""
    children = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                ppid = int(_stat_fields(int(name))[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def group_alive(pgid: int) -> bool:
    """Whether any process of process group ``pgid`` is still alive."""
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                f = _stat_fields(int(name))
            except (OSError, IndexError):
                continue
            if int(f[2]) == pgid and f[0] != "Z":
                return True
    return False


def tree_cpu_s(root: int) -> float:
    """CPU seconds used by the tree, reaped children included."""
    total = 0
    for pid in tree(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_mb(root: int) -> tuple[float, float]:
    """(RSS of the whole tree, RSS of its Python UDF workers) in MB."""
    total = workers = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except (OSError, IndexError, ValueError):
            continue
        total += rss
        if b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd:
            workers += rss
    return total / 2**20, workers / 2**20


def host_stamp(iterations: int = 150) -> float:
    """Spark-free single-core CPU speed in units/s, one unit being the
    600-iteration uint64 loop of the repository's bench ceiling stamp.
    Recorded beside the metrics to explain outliers; never used to
    rescale them."""
    import numpy as np
    rng = np.random.default_rng(0)
    a = rng.integers(0, 2**63, 200_000, dtype=np.int64).view(np.uint64)
    acc = np.uint64(0)
    t0 = time.perf_counter()
    for _ in range(iterations):
        a = (a << np.uint64(1)) | (a >> np.uint64(63))
        a = a ^ (a + np.uint64(0x9E3779B97F4A7C15))
        acc ^= a.sum()
    return iterations / 600 / (time.perf_counter() - t0)
