"""CPU time and resident memory of this process and all its descendants
(the Python driver, the JVM and the JVM's Python workers), read from
/proc. Linux only."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: PeakRss samples every SAMPLE_S seconds and re-lists the tree every TREE_S
SAMPLE_S = 0.2
TREE_S = 2.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are plain
    return s[s.rindex(")") + 2:].split()


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f is not None:
            # utime, stime, cutime, cstime (fields 14-17 of stat)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``SAMPLE_S`` seconds on a
    daemon thread; ``peak`` is the largest sum seen."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pids, age = tree(), 0.0
        while not self._stop.is_set():
            if age >= TREE_S:
                pids, age = tree(), 0.0
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(SAMPLE_S)
            age += SAMPLE_S

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
