"""Host facts and process-tree accounting read from /proc.

The Spark JVM is a child of this process and the Python workers descend
from it (JVM -> pyspark.daemon -> forked workers). A process's cutime and
cstime hold the CPU of its children that have exited and been reaped, so
summing utime + stime + cutime + cstime over the live tree counts every
worker, including those that already exited.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def host_facts() -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def spin_s() -> float:
    """A fixed pure-Python CPU loop: tells a slow host period apart from a
    regression. It measures the host, never the program."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x += i ^ (x & 7)
    return time.perf_counter() - t0


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """CPU seconds of every process below this one, exited workers included."""
    total = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of the live processes below
    this one: the JVM and the Python workers."""
    total_kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def stop_descendants(timeout_s: float = 20.0) -> None:
    """Wait for the processes this run started to end after the session
    stops; kill what is left when the wait runs out."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not _descendants(os.getpid()):
            return
        time.sleep(0.2)
    for pid in _descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    # reap whatever was our direct child
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break
