"""CPU time and summed RSS of this process and all its descendants, from
/proc (no psutil).

A PySpark driver forks the JVM (through spark-submit), and the JVM forks the
Python worker daemon and its workers, so the tree rooted at this process
holds every core the benchmark measures. CPU is read as utime + stime +
cutime + cstime of each live process: a process that exits is reaped by its
parent, whose cutime/cstime then carry its time, so a delta between two
reads counts every descendant exactly once as long as its parent is alive.
"""
from __future__ import annotations

import contextlib
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """Summed user + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after the name: utime=11, stime=12, cutime=13, cstime=14
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread that samples the tree's summed RSS inside
    `measure()` blocks and keeps each block's peak in `peaks_bytes`. The pid
    list is refreshed every `refresh` samples (a full /proc scan), so
    short-lived workers are seen within ~1 s. The thread's own CPU time is
    kept in `cpu_s`, so its cost can be reported next to the figures it
    produces. Read the counters after the `with` block has joined it."""

    def __init__(self, root: int, interval_s: float = 0.05, refresh: int = 20):
        self.root = root
        self.interval_s = interval_s
        self.refresh = refresh
        self.peaks_bytes: list[int] = []
        self.samples = 0
        self._peak = 0
        self._lock = threading.Lock()
        self.cpu_s = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5.0)

    @contextlib.contextmanager
    def measure(self):
        """Sample for the duration of a `with` block and record its peak."""
        with self._lock:
            self._peak = 0
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()
            with self._lock:
                self.peaks_bytes.append(self._peak)

    def _loop(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            self._active.wait()
            if self._stop.is_set():
                break
            t0 = time.thread_time()
            if n % self.refresh == 0:
                pids = tree_pids(self.root)
            rss = tree_rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)
            self.samples += 1
            self.cpu_s += time.thread_time() - t0
            n += 1
            time.sleep(self.interval_s)

