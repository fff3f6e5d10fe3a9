"""Process-tree CPU time and memory sampling, and JVM shutdown."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                # the command name may hold spaces; ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    return children


def _descendants(root: int) -> list[int]:
    children, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out[1:]


def _resident_bytes(pid: int) -> int:
    """Resident bytes of one process. Python workers are forked from one
    daemon and share most pages with it, so they count their proportional
    share (Pss); the JVM shares little, and walking its page tables for Pss
    is slow, so it counts its RSS."""
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            with open(f"/proc/{pid}/statm") as g:
                return int(g.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (driver JVM, Python daemon and workers), the reaped children of each
    included. Time the hypervisor gives other guests (steal) is not in it."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                # utime, stime, cutime, cstime follow the last ')' at 11..14
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass  # the process exited
    return ticks / _TICK


def _tree_resident_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (driver JVM,
    Python workers)."""
    total = 0
    for pid in [root, *_descendants(root)]:
        try:
            total += _resident_bytes(pid)
        except (OSError, IndexError, ValueError):
            pass  # the process exited
    return total


class PeakRss:
    """Samples the resident size of this process tree on a thread while
    active."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, _tree_resident_bytes(os.getpid()))
            if self._stop.wait(0.2):
                return

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def mb(self) -> float:
        return self.peak / 1e6


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway process, then wait until no
    process this one started is left."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while (left := _descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
