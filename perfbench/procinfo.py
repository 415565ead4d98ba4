"""Host facts and process-tree memory read straight from /proc.

A Spark driver is three kinds of process: the Python driver, the JVM it
launches, and the Python workers the JVM forks. Peak memory is the peak of
their summed resident memory, so the sampler walks the whole tree under one
root pid. It sums PSS (proportional set size: resident pages, each shared
page split among the processes that map it), not RSS: the JVM forks before
it execs the Python daemon, and summed RSS counted the whole JVM again for
every such copy (up to +2 GB in one sample), as it does the pages forked
Python workers share.
"""

from __future__ import annotations

import os
import threading


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_ticks() -> int:
    """Ticks this host's CPUs were taken by the hypervisor (8th field of the
    aggregate `cpu` line): a rise during a run marks it as noisy."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def host_facts() -> dict:
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {
        "nproc": cores(),
        "mem_total_mb": round(mem_total_bytes() / 2**20),
        "loadavg": load,
        "steal_ticks": steal_ticks(),
    }


def _tree_pss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited while we walked
            continue
        # comm (field 2) may hold spaces; the fields after its ')' are fixed.
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakPss:
    """Samples the summed PSS of `root` and its descendants on a thread
    until stopped; `peak_mb` is the largest sample. Reading smaps_rollup
    walks page tables (3.5 ms for a 400 MB JVM on a 4-core VM), so samples
    are 250 ms apart."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self._root = root
        self._interval = interval_s
        self._stop = threading.Event()
        self._peak = 0
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self._peak = max(self._peak, _tree_pss_bytes(self._root))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "PeakPss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._peak = max(self._peak, _tree_pss_bytes(self._root))

    @property
    def peak_mb(self) -> float:
        return self._peak / 2**20
