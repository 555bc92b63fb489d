"""Process-tree CPU and memory, and host contention, read from /proc.

The benchmark process starts a JVM, which forks Spark's Python workers;
every figure here covers that whole tree. CPU of children that already
exited and were reaped is included through their parent's cutime/cstime.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # fields after "(comm)"; index 0 is the state, 1 the parent pid
    return raw[raw.rindex(")") + 2:].split()


def state(pid: int) -> str | None:
    """Process state letter, or None when the process is gone."""
    f = _stat_fields(pid)
    return f[0] if f else None


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default this process) and all its live descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the process tree so far."""
    ticks = 0
    for pid in pids or tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK


def peak_rss_mb_by_pid(pids: list[int] | None = None) -> dict[int, float]:
    """Resident high-water mark (MB) of each live process of the tree."""
    out = {}
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1]) / 1024.0
                        break
        except OSError:
            pass
    return out


def host_cpu_ticks() -> tuple[int, int, int]:
    """(total, busy, steal) jiffies of the host's aggregate cpu line."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    total = sum(vals[:8])
    return total, total - idle - steal, steal


def contention(start: tuple[int, int, int], end: tuple[int, int, int],
               own_cpu_s: float) -> dict[str, float]:
    """Host steal share and the busy share not due to this process tree,
    both as fractions of all host CPU time over the interval."""
    total = max(end[0] - start[0], 1)
    busy = end[1] - start[1]
    other = max(busy - own_cpu_s * _CLK, 0)
    return {"steal_share": round((end[2] - start[2]) / total, 4),
            "other_busy_share": round(other / total, 4)}
