"""CPU and resident memory of a process tree, read from ``/proc``.

A PySpark driver's work is spread over three kinds of process: the
Python driver, the JVM it launches, and the JVM's Python workers. The
tree rooted at the driver covers all three.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name (field 2) may contain spaces; fields resume after ')'
    return raw[raw.rfind(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of ``pids``, including their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (index 11-14 here)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def start_time(pid: int) -> int | None:
    """Start time in clock ticks since boot; with the pid it identifies a
    process even after the pid is reused."""
    st = _stat(pid)
    return int(st[19]) if st is not None else None


def alive(pid: int, started: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z" and int(st[19]) == started
