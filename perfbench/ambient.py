"""Readings from /proc and the file system: CPU seconds of this process
tree, the host's steal counter, a fixed CPU probe and on-disk bytes."""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str):
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # the command name may hold spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_seconds(root: int | None = None) -> float:
    """utime+stime of ``root`` and every live descendant, plus what
    their reaped children left in cutime+cstime: the driver Python, the
    JVM and its Python workers."""
    root = root or os.getpid()
    parent, times = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            f = _stat_fields(pid)
        except (OSError, ValueError):
            continue          # exited while we listed
        parent[int(pid)] = int(f[1])
        times[int(pid)] = sum(int(x) for x in f[11:15])
    total, todo = 0, [root]
    kids: dict = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    while todo:
        pid = todo.pop()
        total += times.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / _TICK


def steal_seconds() -> float:
    """Host-wide steal time so far (the 8th value of /proc/stat's cpu
    line)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def cpu_probe() -> float:
    """Seconds to hash 1,000 MB (a cache-resident 1 MB block) on one
    thread, about 1 s on an idle 4-CPU reference rig. A diagnostic
    beside the run, never a gate."""
    block = b"\x5a" * (1 << 20)
    h = hashlib.sha256()
    t0 = time.perf_counter()
    for _ in range(1000):
        h.update(block)
    return time.perf_counter() - t0


def dir_bytes(*paths: str) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f))
                         for f in files)
    return total
