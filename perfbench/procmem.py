"""Resident-memory and CPU-time sampling of a process tree from ``/proc``.

The sampled tree is every descendant of the benchmark process: the Spark
driver JVM and the Python worker daemon with its forked workers. The
benchmark process itself is excluded, since it holds the generated inputs
and oracle frames, not the system's working set.

Each process is counted by its proportional set size (PSS): a page shared
by n processes counts 1/n in each. The forked workers share most of the
daemon's pages, so plain RSS summed over them counts those pages once per
worker and swings with the number of workers alive at the sample.
"""

from __future__ import annotations

import os
import threading


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:  # exited while listing
            continue
        # the command name may hold spaces: fields resume after its ')'
        out[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # exited while sampling
        return 0
    # utime, stime, cutime, cstime: fields 14-17 of stat, the first two
    # fields being the pid and the command name
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by the descendants of this
    process: the Spark driver JVM and the Python workers, with the exited
    workers their parents reaped. Time the hypervisor gave another guest
    while a process waited (steal) is not CPU time, so it is not counted."""
    return sum(_cpu_ticks(p) for p in descendants(os.getpid())) * _TICK_S


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, all) CPU ticks of this machine so far, from ``/proc/stat``:
    stolen ticks are those the hypervisor gave to other guests."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def _pss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited while sampling
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def split_pss(root: int) -> dict[str, int]:
    """Proportional resident bytes of ``root``'s descendants: JVM vs
    Python workers."""
    out = {"jvm": 0, "workers": 0, "n_workers": 0}
    for p in descendants(root):
        if _comm(p) == "java":
            out["jvm"] += _pss(p)
        else:
            out["workers"] += _pss(p)
            out["n_workers"] += 1
    return out


class PeakRss:
    """Background sampler of the peak summed PSS of our descendants.

    Use as a context manager around the timed window; ``peak_mb`` holds
    the result once it exits."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            parts = split_pss(root)
            total = parts["jvm"] + parts["workers"]
            if total > self.peak:
                self.peak, self.at_peak = total, parts
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
