"""Host-side probes: CPU and memory of a process tree, hypervisor steal,
and the current speed of the cores (Linux ``/proc``)."""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            data = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return data[data.rindex(")") + 2 :].split()


def tree(root: int) -> list[list[str]]:
    """``/proc/<pid>/stat`` fields (from the state field on) of ``root``
    and all its descendants."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(int(st[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(stats[pid])
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    return sum(sum(int(x) for x in st[11:15]) for st in tree(root)) / _TICK


def tree_rss_mb(root: int) -> float:
    return sum(int(st[21]) for st in tree(root)) * _PAGE / 2**20


def steal_s() -> float:
    """Cumulative hypervisor steal of the whole host, in CPU seconds."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


#: ``probe_s()`` on the reference host (4-core x86_64 VM) when no other
#: tenant contends for its cores; times scaled by ``PROBE_REF_S / probe``
#: read as seconds on that host at that speed
PROBE_REF_S = 0.03

_GATHER: tuple | None = None


def probe_s() -> float:
    """Mean seconds per core for a fixed hashing loop plus a fixed random
    gather over 64 MB, run on each core this process may use, pinned there
    in turn: how fast the cores the engine runs on are right now. Other
    tenants of a shared host slow some cores by up to half, and memory
    access more than arithmetic, moving from core to core within seconds;
    the mean over all cores of both parts tracks the engine's own speed."""
    global _GATHER
    import numpy as np

    if _GATHER is None:
        rng = np.random.default_rng(0)
        _GATHER = (np.arange(1 << 23, dtype=np.int64), rng.integers(0, 1 << 23, 1 << 20))
    arr, idx = _GATHER
    allowed = os.sched_getaffinity(0)
    total = 0.0
    try:
        for cpu in sorted(allowed):
            os.sched_setaffinity(0, {cpu})
            t0 = time.perf_counter()
            h = b"perfbench"
            for _ in range(30_000):
                h = hashlib.sha256(h).digest()
            arr[idx].sum()
            total += time.perf_counter() - t0
    finally:
        os.sched_setaffinity(0, allowed)
    return total / len(allowed)


def cores() -> int:
    return len(os.sched_getaffinity(0))
