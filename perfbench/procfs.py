"""Process-tree resource readings from /proc (``psutil`` is not
installed)."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def rss_kb(pid: int) -> int:
    """Resident set size from /proc/<pid>/status (cheap to read; unlike
    smaps it takes no lock the sampled process needs)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of the live tree, including children it
    has already reaped. The difference of two readings is the CPU the
    tree spent in between, also for processes started or reaped in
    between. Time the hypervisor steals is not charged to processes, so
    this holds steady where wall time does not."""
    ticks = 0
    for pid in tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state (stat field 3): utime..cstime are 14..17
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK
