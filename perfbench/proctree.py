"""CPU seconds of a process tree, read from /proc.

Spark's `Executor CPU Time` counts JVM task threads only, not the forked
Python workers that run this engine's extraction and exact
point-in-polygon code, nor JVM compiler and GC threads. This module sums
user + system time over a root process and all of its descendants (the
Python process, the JVM it launched, the PySpark daemon and its workers),
including the time of descendants that have already exited and been
reaped, which the kernel adds to their parent's `cutime`/`cstime`.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[str, int, int] | None:
    """(comm, ppid, ticks) of one process, or None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return None
    # comm is parenthesised and may contain spaces: split after the last ')'
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(fields[1])
    ticks = sum(int(v) for v in fields[11:15])
    return comm, ppid, ticks


def _tree(root: int) -> dict[int, tuple[str, int, int]]:
    """`_stat` of `root` and every live descendant, by pid."""
    procs: dict[int, tuple[str, int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(name)
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_comm, ppid, _t) in procs.items():
        children.setdefault(ppid, []).append(pid)
    tree = {}
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            tree[pid] = procs[pid]
            stack.extend(children.get(pid, []))
    return tree


def tree_cpu_s() -> dict[str, float]:
    """CPU seconds by kind for the tree under this process: "main" (this
    process), "jvm" (java processes), "python" (everything else, i.e. the
    PySpark daemon and workers), and "total"."""
    root = os.getpid()
    out = {"main": 0.0, "jvm": 0.0, "python": 0.0}
    for pid, (comm, _ppid, ticks) in _tree(root).items():
        kind = "main" if pid == root else ("jvm" if comm == "java" else "python")
        out[kind] += ticks / _TICK
    out["total"] = out["main"] + out["jvm"] + out["python"]
    return out


def descendants() -> set[int]:
    """Pids of the live descendants of this process."""
    return set(_tree(os.getpid())) - {os.getpid()}


def running(pid: int) -> bool:
    """Whether `pid` exists and has not exited (a zombie has exited)."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            raw = f.read()
    except OSError:
        return False
    return raw[raw.rindex(")") + 2] != "Z"


def delta(after: dict[str, float], before: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before.get(k, 0.0) for k in after}

