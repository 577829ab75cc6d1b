"""Process-tree CPU and memory, and host steal, read from ``/proc``.

CPU of a tree is the sum over its live processes of user + system time
plus the time of the children each has reaped (``cutime``/``cstime``), so
a Python worker that exited and was reaped by ``pyspark.daemon`` still
counts. Steal is read from the host-wide ``cpu`` line of ``/proc/stat``.
"""

from __future__ import annotations

import os

TICK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """user + system + reaped-children CPU seconds of ``pids``."""
    total = 0
    for pid in pids:
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * PAGE / 1e6


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def steal_s() -> float:
    """Host steal seconds since boot, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / TICK
