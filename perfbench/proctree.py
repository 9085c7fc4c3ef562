"""Process-tree CPU and RSS sampling from ``/proc`` (stdlib only).

A benchmark run is one Python driver plus everything it spawns: the
Spark JVM, the PySpark worker daemon and its forked Python workers.
``tree_pids`` walks that tree from a root pid; ``tree_cpu_s`` sums
user+sys CPU over it, including the ``cutime``/``cstime`` a parent
inherits when it reaps a child, so a worker that exits inside the
measured window is still counted; ``RssSampler`` records the peak of
the tree's summed RSS on a background thread.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the ``(comm)`` field, or
    None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces and parentheses: split after the LAST ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            kids.setdefault(int(f[1]), []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """user+sys CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat(5)
            total += sum(int(x) for x in f[11:15])
    return total / _TICKS


def tree_rss_mb(root: int | None = None) -> float:
    """Summed resident set size of the tree, in MB (2^20 bytes)."""
    pages = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                pages += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return pages * _PAGE / 2**20


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock time (epoch seconds) at which ``pid`` started."""
    f = _stat_fields(os.getpid() if pid is None else pid)
    start_ticks = int(f[19])  # starttime: field 22 of stat(5)
    with open("/proc/stat") as s:
        btime = next(int(l.split()[1]) for l in s if l.startswith("btime"))
    return btime + start_ticks / _TICKS


class RssSampler:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread between ``start()`` and ``stop()``; ``peak_mb`` is
    the largest sample."""

    def __init__(self, root: int | None = None, interval: float = 0.05):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_mb = 0.0
        self.samples = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
        self.samples += 1

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "RssSampler":
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self._sample()
        return self.peak_mb
