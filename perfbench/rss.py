"""Peak resident memory of a process tree, sampled from /proc.

The tree is the benchmark's own Python process plus every descendant:
the Spark JVM it launches and that JVM's Python workers. RSS is summed
over the tree, so pages shared between forked workers count once per
process (the same total ``ps`` would show).
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _ppid_map() -> dict:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces and parentheses; fields after
        # the LAST ')' are fixed: state, ppid, ...
        out[int(name)] = int(stat[stat.rfind(b")") + 2 :].split()[1])
    return out


def _exe(pid: int):
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_pids(root: int) -> list:
    """``root`` and its descendants, leaving out a JVM's children that still
    run the JVM's own binary: in a single-JVM tree those are process
    spawns in flight (vfork shares the parent's memory until exec), and
    counting them would add the whole JVM a second time."""
    children: dict = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        kids = children.get(pid, ())
        exe = _exe(pid) if kids else None
        if exe is not None and os.path.basename(exe) == "java":
            kids = [k for k in kids if _exe(k) != exe]
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler; ``peak_mb`` is the largest tree total seen."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / float(1 << 20)
