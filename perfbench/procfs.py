"""Process-tree CPU time and peak resident memory, read from /proc.

The tree is this process and every descendant: the Spark driver JVM that
pyspark launches, the `pyspark.daemon` it forks, and that daemon's Python
UDF workers. Spark's own `executorCpuTime` counts only JVM task threads,
so the Python side of an Arrow UDF is visible here and nowhere else.
Standard library only (psutil is not assumed).
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on; the command
    name in field 2 may hold spaces or parentheses, so split after the
    last ')'."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            data = f.read()
    except OSError:
        return None
    return data[data.rindex(b")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, including children that
    exited and were reaped inside it (cutime/cstime)."""
    total = 0
    for pid in tree_pids() if pids is None else pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def wait_idle(cores_busy: float = 0.1, window_s: float = 0.2,
              max_s: float = 5.0) -> float:
    """Block until the tree uses under `cores_busy` cores over a
    `window_s` window (the JVM's JIT and GC threads settle after heavy
    work), or `max_s` has passed; returns the seconds waited."""
    t0 = time.perf_counter()
    pids = tree_pids()
    while time.perf_counter() - t0 < max_s:
        c0 = tree_cpu_s(pids)
        time.sleep(window_s)
        if tree_cpu_s(pids) - c0 < cores_busy * window_s:
            break
    return time.perf_counter() - t0


def tree_hwm_mb(pids: list[int] | None = None) -> float:
    """Sum of each live process's peak resident set (VmHWM), in MiB."""
    kb = 0
    for pid in tree_pids() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
