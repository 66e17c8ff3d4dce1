"""CPU, memory and ambient-load meters for this process's subtree (the
driver, its Spark JVM and the Python workers).

The /proc CPU meters are bench.py's, imported rather than copied.
"""

from __future__ import annotations

import os

import bench

HZ = os.sysconf("SC_CLK_TCK")

ambient_meter = bench._ambient_meter


def subtree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants."""
    return bench._subtree_cpu_jiffies() / HZ


def _subtree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                s = f.read()
        except OSError:
            continue
        ppid = int(s[s.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, ()))
    return out


class PeakRss:
    """Peak resident memory of the subtree over a block, from the
    kernel's per-process high-water mark (``VmHWM``): reset through
    ``/proc/<pid>/clear_refs`` on entry and summed on exit, so nothing
    samples while the block runs. ``peak`` is in bytes; it sums each
    process's own peak, so it can exceed the subtree's peak total
    when processes peak at different times."""

    def __init__(self):
        self.peak = 0
        #: command name -> summed peak bytes, for the run's log
        self.by_comm: dict[str, int] = {}

    def __enter__(self) -> PeakRss:
        for pid in _subtree_pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                continue
        return self

    def __exit__(self, *exc) -> None:
        by_comm: dict[str, int] = {}
        for pid in _subtree_pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    comm = f.readline().split()[1]
                    for line in f:
                        if line.startswith("VmHWM:"):
                            hwm = int(line.split()[1]) * 1024
                            by_comm[comm] = by_comm.get(comm, 0) + hwm
                            break
            except OSError:
                continue
        self.by_comm = by_comm
        self.peak = sum(by_comm.values())
