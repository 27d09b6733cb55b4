"""Host CPU and memory accounting from /proc.

`external_cpu_s` is the busy CPU time of the whole host over an interval
minus the CPU time of the benchmark's own process tree (this Python
process, the JVM it launched and Spark's Python workers). It replaces a
load-average check: a load average also counts the benchmark's own
threads and decays too slowly to tell a quiet host from a busy one.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        data = fh.read()
    # the command name may hold spaces; fields resume after its ")"
    return data[data.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """`root` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds used by the tree, including its reaped children."""
    total = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of /proc/pid/stat
        total += sum(int(x) for x in f[11:15])
    return total / _TICK


def host_busy_s() -> float:
    """Busy CPU seconds of the host since boot, summed over all CPUs."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal; guest time is
    # already included in user
    return (sum(cpu[:8]) - cpu[3] - cpu[4]) / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the tree."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class CpuWindow:
    """External CPU seconds over an interval: start(), then stop()."""

    def start(self) -> None:
        self._host0, self._own0 = host_busy_s(), tree_cpu_s()

    def stop(self) -> dict:
        host, own = host_busy_s() - self._host0, tree_cpu_s() - self._own0
        return {"host_busy_s": round(host, 2), "own_cpu_s": round(own, 2),
                "external_cpu_s": round(max(0.0, host - own), 2)}
