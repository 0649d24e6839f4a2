"""Readings from ``/proc``: CPU of a process tree, peak RSS, host load.

Everything here is a plain read of Linux proc files, so a benchmark run can
attribute a slow figure to the host (load, CPU steal) or to itself (CPU,
memory) without any extra process.
"""

from __future__ import annotations

import os

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User+system CPU seconds of ``root`` and its live descendants, plus
    what they have reaped (``cutime``/``cstime``). A child that exits
    between two readings moves its whole CPU time into its parent's
    reaped counters, so the difference of two readings stays exact."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat(5)
            total += sum(int(v) for v in fields[11:15])
    return total * _TICK_S


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb(root: int | None = None) -> float:
    """``VmHWM`` of the Python driver plus every JVM below it."""
    root = root or os.getpid()
    kb = _status_kb(root, "VmHWM")
    kb += sum(_status_kb(pid, "VmHWM") for pid in descendants(root) if _comm(pid) == "java")
    return kb / 1024.0


def host_sample() -> dict[str, float]:
    """1-minute load average, cumulative CPU-steal ticks, cumulative ticks
    of every CPU state and the number of runnable processes, host-wide."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    steal = total = running = 0
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("cpu "):
                # user nice system idle iowait irq softirq steal guest guest_nice;
                # guest time is already counted in user and nice
                ticks = [int(v) for v in line.split()[1:9]]
                steal, total = (ticks[7] if len(ticks) > 7 else 0), sum(ticks)
            elif line.startswith("procs_running"):
                running = int(line.split()[1])
    return {"load1": load1, "steal_ticks": steal, "cpu_ticks": total, "procs_running": running}


def steal_share(start: dict, end: dict) -> float:
    """Share of the host's CPU ticks between two samples that the
    hypervisor gave to other guests."""
    total = end["cpu_ticks"] - start["cpu_ticks"]
    return (end["steal_ticks"] - start["steal_ticks"]) / total if total else 0.0
