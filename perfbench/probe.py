"""Counters read from outside the engine: process memory from ``/proc``."""

from __future__ import annotations

import os
import threading

#: seconds between two samples of the processes' high-water marks
INTERVAL_S = 0.2


def _status_kb(pid: int, field: str) -> int | None:
    try:
        with open("/proc/%d/status" % pid) as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:  # the process has exited
        return None
    return None


def _is_python(pid: int) -> bool:
    try:
        with open("/proc/%d/comm" % pid) as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def _children(pid: int) -> list:
    out = []
    try:
        for tid in os.listdir("/proc/%d/task" % pid):
            with open("/proc/%d/task/%s/children" % (pid, tid)) as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def gateway_pid(spark) -> int:
    """Pid of the JVM behind the py4j gateway."""
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class PeakRss:
    """Peak resident memory summed over this Python process, the JVM and
    the JVM's Python descendants (the PySpark daemon and its workers).
    Each process's high-water mark (``VmHWM``) is sampled every
    ``INTERVAL_S`` seconds, so a worker that exits between two samples is
    counted at its last sampled peak. Other descendants are skipped: a
    helper the JVM forks to run a shell command briefly reports the
    JVM's own pages as its high-water mark."""

    def __init__(self):
        self._roots = [os.getpid()]
        self._peak: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._lock = threading.Lock()

    def start(self) -> None:
        self._thread.start()

    def watch_tree(self, pid: int) -> None:
        with self._lock:
            self._roots.append(pid)

    def sample(self) -> None:
        with self._lock:
            todo = list(self._roots)
        seen = set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            kb = _status_kb(pid, "VmHWM") \
                if pid in self._roots or _is_python(pid) else None
            if kb is not None:
                self._peak[pid] = max(self._peak.get(pid, 0), kb)
            todo.extend(_children(pid))

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        if self._thread.is_alive():
            self.sample()
            self._stop.set()
            self._thread.join()

    def peak_mb(self) -> float:
        return sum(self._peak.values()) / 1024.0

