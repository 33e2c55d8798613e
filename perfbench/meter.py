"""CPU and wall time of a block, over this process and all it started.

The gated figures are CPU seconds: user + system time of the benchmark's
own process, the Spark JVM it launches and the JVM's Python workers,
read from `/proc/<pid>/stat` of every live descendant (children that
already exited are in their parent's `cutime`/`cstime`). Steal time and
time spent waiting for another tenant's work are not in it, so the
figure holds on a loaded host where wall time does not (README,
"Why CPU seconds").
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds(root: int | None = None) -> float:
    """CPU seconds of `root` (default: this process) and its descendants."""
    root = root or os.getpid()
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        parent[pid] = int(fields[1])
        ticks[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / _TICK


class Meter:
    """`with Meter() as m: ...` leaves `m.cpu` and `m.wall` in seconds."""

    cpu = wall = 0.0

    def __enter__(self) -> "Meter":
        self._cpu, self._wall = cpu_seconds(), time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._wall
        self.cpu = cpu_seconds() - self._cpu
