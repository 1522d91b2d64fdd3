"""CPU time and peak resident memory of a process tree, read from /proc.

The tree is the benchmark's own Python process and every descendant:
the JVM that spark-submit launches, the ``pyspark.daemon`` it forks and
the Python workers the daemon forks in turn. CPU is user + system time
of every live member plus the time of children they have already
reaped (``cutime``/``cstime``), so a worker that exits mid-run still
counts. Peak RSS is the largest sum of member RSS over samples taken
every ``interval`` seconds by a background thread.
"""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # exited between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    """Running or stopped, not gone and not a zombie awaiting its reaper."""
    f = _stat_fields(pid)
    return f is not None and f[0] not in ("Z", "X")


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _sample(root: int) -> tuple[float, int]:
    """-> (cpu seconds, rss bytes) summed over the tree."""
    ticks = rss = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is None:
            continue
        # utime stime cutime cstime are fields 14-17, rss is field 24
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
        rss += int(f[21])
    return ticks / _CLK, rss * _PAGE


class TreeSampler:
    """``with TreeSampler() as s: ...`` then ``s.cpu_s`` and
    ``s.peak_rss_bytes`` cover exactly the body of the block."""

    def __init__(self, root: int | None = None, interval: float = 0.05):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0

    def _poll(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak_rss_bytes = max(self.peak_rss_bytes, _sample(self.root)[1])

    def __enter__(self) -> TreeSampler:
        self._cpu0, rss = _sample(self.root)
        self.peak_rss_bytes = rss
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        cpu1, rss = _sample(self.root)
        self.cpu_s = cpu1 - self._cpu0
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)
