"""CPU time and resident memory of this process and its descendants
(the Python driver, the JVM and the Python workers), read from
``/proc``."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2 :].split()


def alive(pid: int) -> bool:
    """Whether ``pid`` exists and has not exited (zombies have)."""
    fields = _stat(pid)
    return fields is not None and fields[0] != "Z"


def tree(root: int | None = None) -> list[int]:
    """``root`` (this process by default) and all its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(root: int | None = None) -> float:
    """User + system seconds of the tree, including reaped children,
    so the difference of two readings is the CPU spent in between."""
    total = 0
    for pid in tree(root):
        fields = _stat(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return kb / 1024
