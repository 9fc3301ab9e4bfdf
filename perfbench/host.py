"""Host weather and process-tree memory, read from ``/proc``.

``cpu_control`` is a raw-CPU control: a fixed amount of pure-Python work
on ``cores`` processes at once, reported as loop iterations per second.
Taken at the start and the end of a run beside ``/proc/loadavg``, it
shows whether a slow run was the code or a busy host.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

CONTROL_LOOPS = 3_000_000


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_control(cores: int) -> float:
    """Loop iterations per second of ``cores`` interpreters at once."""
    code = f"x = 0\nfor _ in range({CONTROL_LOOPS}):\n    x += 1"
    t0 = time.perf_counter()
    procs = [subprocess.Popen([sys.executable, "-S", "-c", code]) for _ in range(cores)]
    for proc in procs:
        proc.wait()
    return cores * CONTROL_LOOPS / (time.perf_counter() - t0)


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each of its descendants, by pid."""
    page = os.sysconf("SC_PAGE_SIZE")
    kids: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended between listing and reading
        # fields after the parenthesised command: state ppid ... rss is 24th
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        kids.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    out, stack = {}, [root]
    while stack:
        pid = stack.pop()
        if pid in rss:
            out[pid] = rss[pid]
        stack.extend(kids.get(pid, ()))
    return out


class PeakRss:
    """Samples the process tree's resident memory while active;
    ``take`` returns the peak since the previous ``take``.

    A process counts from its second sample on, so short-lived children
    of the JVM are left out: counted in a single sample, they raised the
    peak by about 700 MB in about a quarter of runs.
    """

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me, seen = os.getpid(), set()
        while not self._stop.is_set():
            sample = tree_rss(me)
            self.peak = max(self.peak, sum(v for pid, v in sample.items() if pid in seen))
            seen = set(sample)
            self._stop.wait(self.interval_s)

    def take(self) -> int:
        peak, self.peak = self.peak, 0
        return peak

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
