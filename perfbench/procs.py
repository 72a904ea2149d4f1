"""CPU and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process and every descendant: the
``spark-submit`` JVM and the Python worker daemon with its forked
workers. Workers are reused across tasks and jobs, so CPU is always
taken as a difference of two readings, never as a total.

A process that exits between two readings is not lost: once its parent
reaps it, its CPU moves into the parent's ``cutime``/``cstime``, which
the reading includes.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, float, int, bytes] | None:
    """(ppid, cpu seconds incl. reaped children, rss bytes, command
    name), or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces and ')': fields follow the last ')'
    comm = raw[raw.index(b"(") + 1 : raw.rindex(b")")]
    fields = raw[raw.rindex(b")") + 2 :].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    rss_pages = int(fields[21])
    return ppid, (utime + stime + cutime + cstime) / _TICK, rss_pages * _PAGE, comm


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int) -> tuple[float, int]:
    """(cpu seconds, rss bytes) summed over the tree rooted at ``root``."""
    cpu, rss = 0.0, 0
    for _, st in _tree_stats(root):
        cpu += st[1]
        rss += st[2]
    return cpu, rss


def _tree_stats(root: int) -> list[tuple[int, tuple]]:
    stats = {pid: _stat(pid) for pid in tree_pids(root)}
    return [
        (pid, st)
        for pid, st in stats.items()
        if st is not None and not _spawning(st, stats.get(st[0]))
    ]


def _spawning(st: tuple, parent: tuple | None) -> bool:
    """True for a JVM child other than the Python worker daemon: a
    short-lived helper (Hadoop's local file system forks ``chmod`` and
    the like, named after the forking thread) that until it execs still
    maps the whole JVM; counting it would double the JVM's memory for an
    instant."""
    return parent is not None and parent[3] == b"java" and not st[3].startswith(b"python")


def cpu_steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far (from
    ``/proc/stat``); a diagnostic for noisy neighbours, not a metric."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


class RssSampler:
    """Background thread recording the peak total RSS of a process tree.

    Use as a context manager around the timed region; ``peak_bytes``
    holds the highest sum seen since the last ``take_peak()``."""

    def __init__(self, root: int, interval_s: float = 0.1) -> None:
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_rss_by_pid: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            stats = _tree_stats(self.root)
            total = sum(st[2] for _, st in stats)
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_rss_by_pid = {
                    pid: (st[3].decode(errors="replace"), st[2]) for pid, st in stats
                }
            if self._stop.wait(self.interval_s):
                return

    def take_peak(self) -> int:
        """The peak so far; the next peak starts from zero."""
        peak, self.peak_bytes = self.peak_bytes, 0
        return peak

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
