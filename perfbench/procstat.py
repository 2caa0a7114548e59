"""Process-tree CPU and memory, read from ``/proc``.

The measured program is a tree: this Python driver, and for the Spark
workloads the JVM it launches and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (not ``root`` itself)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None and fields[0] != "Z":  # zombies have ended
            children.setdefault(int(fields[1]), []).append(int(name))
    out: list[int] = []
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime+stime of the tree, plus the reaped children's (cutime+cstime),
    so a worker that exits between two reads still counts."""
    root = os.getpid() if root is None else root
    total = 0
    for pid in [root, *descendants(root)]:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of ``VmHWM`` (peak resident set) over the tree, in MiB."""
    root = os.getpid() if root is None else root
    kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def reap_tree(timeout_s: float = 20.0) -> None:
    """Wait for every descendant to end; kill what outlives ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    while descendants(os.getpid()) and time.monotonic() < deadline + 5:
        time.sleep(0.1)
    try:  # reap direct children so they leave the process table
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass
