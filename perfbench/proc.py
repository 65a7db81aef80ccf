"""``/proc`` readings for the benchmark: process age, the driver's
process tree (JVM and Python workers), their CPU time and peak RSS, and
directory sizes. Linux only."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may contain spaces; fields resume after its ')'
    head, _, rest = raw.rpartition(")")
    return [head.split(" (", 1)[0], head.split(" (", 1)[1]] + rest.split()


def seconds_since_start(pid: int | None = None) -> float:
    """Wall seconds since the process was created (10 ms resolution)."""
    fields = _stat(pid or os.getpid())
    return time.clock_gettime(time.CLOCK_BOOTTIME) - int(fields[21]) / _TICK


def descendants(root: int) -> list[tuple[int, str]]:
    """``(pid, comm)`` of every live descendant of ``root``."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            f = _stat(int(entry))
            if f is not None:
                children.setdefault(int(f[3]), []).append((int(entry), f[1]))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child[0])
    return out


def python_worker_cpu_s(root: int) -> float:
    """User+system CPU seconds of the Python processes below ``root``
    (the ``pyspark.daemon`` and its forked workers), including workers
    that exited and were reaped by the daemon."""
    total = 0
    for pid, comm in descendants(root):
        if comm.startswith("python"):
            f = _stat(pid)
            if f is not None:
                total += sum(int(x) for x in f[13:17])  # utime stime cutime cstime
    return total / _TICK


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and every live process below
    it (the JVM and the Python workers), with the children each of them
    has reaped."""
    total = 0
    for pid in [root] + [pid for pid, _ in descendants(root)]:
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[13:17])  # utime stime cutime cstime
    return total / _TICK


def peak_rss_kb(pids: list[int]) -> dict[int, int]:
    """``VmHWM`` (peak resident set) of each pid, in KiB."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        out[pid] = int(line.split()[1])
                        break
        except OSError:
            pass
    return out


def tree_size(path: str) -> tuple[int, int]:
    """``(files, bytes)`` of the regular files below ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for name in names:
            try:
                size += os.lstat(os.path.join(dirpath, name)).st_size
                files += 1
            except OSError:
                pass
    return files, size


def cpu_steal_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs since boot, from
    ``/proc/stat``. Steal is time the hypervisor ran other guests while
    this one had work."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)
