"""CPU, peak memory and host-steal readings of this process tree, from /proc.

The tree is this Python process, the JVM it launched and the JVM's
Python workers. CPU is user+sys including reaped children, so a worker
that exits mid-run still counts (its time moves into its parent's
cutime/cstime, and the parent is in the tree).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
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


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """user+sys seconds of the tree, reaped children included."""
    total = 0
    for pid in pids or tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime stime cutime cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_peak_rss_mb(pids: list[int] | None = None) -> float:
    """Sum over the tree of each process's peak resident set size
    (VmHWM, kept by the kernel since the process started). Processes
    peak at different moments, so this bounds the tree's simultaneous
    peak from above; it needs no sampling."""
    total_kb = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass  # exited since it was listed
    return total_kb / 1024


def host_steal_s() -> float:
    """Host-wide steal seconds so far (summed over CPUs)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
