"""Peak resident memory of this process's descendants (the driver JVM
and the Python workers it forks), sampled from ``/proc``.

Forked Python workers share most of their pages with the daemon they
fork from, so summing their RSS counts those pages once per worker (it
read 19 GB on a 15.7 GB host). A Python process contributes its
proportional set size instead: a page shared by n processes counts 1/n
in each. The JVM shares nothing with them and contributes its RSS:
reading its proportional set size walks every page of a 6 GB heap,
about 70 ms a read, which would load the run being measured.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process exited while we listed
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _resident_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/comm") as fh:
        comm = fh.read().strip()
    if comm == "java":
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_resident_bytes(root: int) -> int:
    total = 0
    for pid in _descendants(root):
        try:
            total += _resident_bytes(pid)
        except OSError:  # the process exited while we read it
            continue
    return total


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    since boot: a run that reads slow next to a large steal delta ran on
    a contended host."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class PeakRss:
    """Background sampler; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_resident_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024.0 * 1024.0)
