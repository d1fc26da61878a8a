"""OS accounting read from /proc: CPU time of a process tree, peak RSS,
load average and CPU steal. Linux only."""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
    except (FileNotFoundError, ProcessLookupError):
        pass
    return out


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid not in seen:
            seen.append(pid)
            todo.extend(_children(pid))
    return seen


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # fields after the parenthesised command name; index 0 is field 3
    return text[text.rindex(")") + 2 :].split()


def tree_cpu_s(root: int) -> float:
    """User + system seconds of ``root`` and every live descendant,
    including what each has collected from its exited children. The
    difference of two readings is the tree's CPU time in between, as long
    as exited processes were reaped by a parent inside the tree."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(v) for v in f[11:15])  # utime stime cutime cstime
    return ticks / _CLK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of one process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def find_jvm(root: int) -> int | None:
    """The Spark driver JVM among ``root``'s descendants."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    return pid
        except (FileNotFoundError, ProcessLookupError):
            continue
    return None


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return 100.0 * d[7] / total if total > 0 else 0.0


def loadavg() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]
