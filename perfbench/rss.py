"""Process-tree memory and lifetime from /proc (``psutil`` is not needed).

The driver's process tree is this Python process, the JVM it launches
(through spark-submit) and the Python workers the JVM forks. Summing VmRSS
over every descendant of this process covers the JVM and its workers, and
leaves out this process, which also computes the benchmark's expectations
and checks.
"""

from __future__ import annotations

import os
import signal
import threading
import time


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRSS:
    """Samples the summed RSS of this process's descendants every
    ``interval`` seconds on a background thread; ``peak_mb`` is the largest
    sum seen and ``peak_procs`` the number of processes it summed.

    A process counts from its second sample on. The JVM starts Python
    workers through vfork/exec, and until the exec the child shares the
    JVM's address space, so its VmRSS repeats the JVM's whole RSS; no such
    child outlives one interval under its pre-exec image."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        seen: set[int] = set()
        while not self._stop.is_set():
            pids = descendants(pid)
            counted = [p for p in pids if p in seen]
            seen = set(pids)
            mb = sum(_rss_kb(p) for p in counted) / 1024.0
            if mb > self.peak_mb:
                self.peak_mb, self.peak_procs = mb, len(counted)
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRSS":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has exited (reaping those that
    are this process's children); SIGKILL survivors after ``timeout``."""
    for last_round in (False, True):
        deadline = time.monotonic() + timeout
        while True:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            alive = [p for p in pids if _alive(p)]
            if not alive or time.monotonic() > deadline:
                break
            time.sleep(0.1)
        if not alive or last_round:
            return
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
