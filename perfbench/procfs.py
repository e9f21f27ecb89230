"""Process-tree CPU and memory, and box state, read from ``/proc``.

Read by the launcher process, outside the measured tree, so reading
``/proc`` adds no CPU to what it measures.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """``[comm, state, ppid, ...]``: /proc/<pid>/stat from field 2 on."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            head, tail = f.read().rsplit(")", 1)
    except OSError:
        return None
    # the parenthesised comm may hold spaces
    return [head.split("(", 1)[1], *tail.split()]


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def tree(root: int) -> dict[int, list[str]]:
    """``{pid: stat fields}`` for ``root`` and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                stats[int(d)] = st
                children.setdefault(int(st[2]), []).append(int(d))
    out: dict[int, list[str]] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        if pid in stats and pid not in out:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def _cpu_s(st: list[str]) -> float:
    # utime stime cutime cstime: own time plus that of reaped children
    return sum(int(x) for x in st[12:16]) / _TICK


def _hwm_bytes(pid: int) -> int:
    """The kernel's resident-set high-water mark of one process."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _counted(procs: dict[int, list[str]]) -> list[int]:
    """PIDs whose memory counts: all but the non-Python children of the
    JVM. Those are short-lived helpers (e.g. Hadoop's ``chmod``) started
    with vfork, and until they exec they report the JVM's own memory."""
    out = []
    for pid, st in procs.items():
        parent = procs.get(int(st[2]))
        if not (parent and parent[0] == "java" and not st[0].startswith("python")):
            out.append(pid)
    return out


def _pyworker_pids(procs: dict[int, list[str]]) -> set[int]:
    """The pyspark daemon and the workers it forked (same cmdline)."""
    daemons = {p for p in procs if "pyspark.daemon" in _cmdline(p)}
    return daemons | {p for p, st in procs.items() if int(st[2]) in daemons}


def snapshot(root: int) -> dict:
    """Cumulative CPU of the tree rooted at ``root`` and of its Python
    workers, the worker PIDs, and the peak resident memory of every live
    process in the tree (the kernel's high-water mark, so no polling is
    needed and short spikes count)."""
    procs = tree(root)
    workers = _pyworker_pids(procs)
    hwm = sorted(((procs[p][0], _hwm_bytes(p)) for p in _counted(procs)), key=lambda x: -x[1])
    return {
        "t": time.perf_counter(),
        "cpu_s": sum(_cpu_s(st) for st in procs.values()),
        "pyworker_cpu_s": sum(_cpu_s(procs[p]) for p in workers),
        "pyworker_pids": sorted(workers),
        "peak_rss": sum(b for _, b in hwm),
        "peak_rss_by_process": hwm,
    }


def box_state() -> dict:
    """nproc, load average and cumulative CPU ticks of the whole box
    (``steal`` is field 8 of the ``cpu`` line of ``/proc/stat``)."""
    state: dict = {"nproc": len(os.sched_getaffinity(0))}
    try:
        with open("/proc/loadavg") as f:
            state["loadavg"] = [float(x) for x in f.read().split()[:3]]
    except OSError:
        state["loadavg"] = None
    try:
        with open("/proc/stat") as f:
            cpu = f.readline().split()
        state["steal_ticks"] = int(cpu[8])
        # user..steal only: guest ticks are already folded into user
        state["total_ticks"] = sum(int(x) for x in cpu[1:9])
    except (OSError, IndexError, ValueError):
        state["steal_ticks"] = state["total_ticks"] = None
    return state


def steal_share(start: dict, end: dict) -> float | None:
    """Share of box CPU ticks stolen by the hypervisor between two samples."""
    try:
        total = end["total_ticks"] - start["total_ticks"]
        return (end["steal_ticks"] - start["steal_ticks"]) / total if total > 0 else 0.0
    except (KeyError, TypeError):
        return None


def alive_in_group(pgid: int) -> list[int]:
    """PIDs whose process group is ``pgid`` (zombies excluded)."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None and int(st[3]) == pgid and st[1] != "Z":
                out.append(int(d))
    return out
