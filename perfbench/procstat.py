"""Process-tree CPU and memory accounting from ``/proc``.

The tree is a root process and all its descendants, minus excluded
subtrees (the fake server). CPU seconds include each process's reaped
children (``cutime``/``cstime``), so Python workers that exit during a
pass still count once their parent reaps them.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int, exclude: tuple[int, ...] = ()) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:  # utime, stime, cutime, cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def kill_tree(root: int) -> None:
    """SIGKILL a process and every descendant (leaves first)."""
    for pid in reversed(tree_pids(root)):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


class TreeMonitor:
    """CPU seconds and peak RSS of a process tree over a window.

    ``start()`` snapshots the tree's CPU; ``stop()`` returns
    ``(cpu_s, peak_rss_bytes)`` for the window. Only with an
    ``interval`` does a sampler thread sum the tree's RSS every
    ``interval`` seconds, calling ``on_sample`` (optional) with each sum,
    e.g. to enforce a memory cap; without one the window's CPU is read
    at its two ends and nothing else, and the peak is 0. The sampler
    runs in the calling process, so its own CPU counts when that
    process is in the tree."""

    def __init__(self, root: int, exclude: tuple[int, ...] = (),
                 interval: float | None = None, on_sample=None):
        self.root, self.exclude, self.interval = root, exclude, interval
        self.on_sample = on_sample
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak = 0

    def _pids(self) -> list[int]:
        return tree_pids(self.root, self.exclude)

    def _sample(self) -> None:
        while not self._stop.is_set():
            rss = rss_bytes(self._pids())
            self.peak = max(self.peak, rss)
            if self.on_sample is not None:
                self.on_sample(rss)
            self._stop.wait(self.interval)

    def start(self) -> "TreeMonitor":
        self.peak = 0
        self._stop.clear()
        self._cpu0 = cpu_seconds(self._pids())
        if self.interval is not None:
            self._thread = threading.Thread(target=self._sample, daemon=True)
            self._thread.start()
        return self

    def stop(self) -> tuple[float, int]:
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None
            self.peak = max(self.peak, rss_bytes(self._pids()))
        return cpu_seconds(self._pids()) - self._cpu0, self.peak


def load_avg() -> float:
    return os.getloadavg()[0]


def wait_gone(pids: list[int], timeout: float = 10.0) -> None:
    """Wait until every pid has exited (or is a zombie); SIGKILL what is
    left at the timeout."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        pids = [p for p in pids if (_stat_fields(p) or ["Z"])[0] != "Z"]
        if not pids:
            return
        time.sleep(0.05)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
