"""Process-tree CPU time and resident memory, read from /proc.

The tree is this process and every descendant: the py4j-launched JVM
and the Python workers it forks.  CPU time counts each live process's
user+sys plus the children it has already reaped, so a worker that
exits inside an interval still lands in its parent's total.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields start after the last ')'
    return s[s.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie awaiting its parent counts as gone)."""
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def tree() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        f = _stat(int(d))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for p in pids:
        f = _stat(p)
        if f is not None:  # fields 14-17 of stat (utime stime cutime cstime)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``period`` s while active; the
    process list is refreshed every ``refresh`` samples, since walking
    /proc costs far more than reading a few statm files."""

    def __init__(self, period: float = 0.1, refresh: int = 10):
        self.period = period
        self.refresh = refresh
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while True:
            if n % self.refresh == 0:
                pids = tree()
            n += 1
            self.peak = max(self.peak, rss_bytes(pids))
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(tree()))


def process_start_time() -> float:
    """Wall-clock start of this process (epoch seconds, 10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - int(_stat(os.getpid())[19]) / _TICK)
