"""Process-tree accounting for one benchmark run: the driver process, the
JVM it launches and the Python workers the JVM forks."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE / 1e6
    except OSError:
        return 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process and every live descendant."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(f) for f in fields[11:15])
    return total / _TICK


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus every descendant (the
    JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._halt.wait(0.2):
            total = sum(_rss_mb(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


def _gone(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def stop_spark(spark) -> None:
    """Stop the session, end the JVM, and wait until it and every Python
    worker it forked have exited (killing what outlives 30 s)."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception:  # e.g. a py4j call cut short by SIGTERM: end the JVM anyway
        pass
    if jvm is not None:
        jvm.stdin.close()  # the gateway server exits on stdin EOF
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    while time.time() < deadline and not all(_gone(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if not _gone(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
