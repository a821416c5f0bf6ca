"""Process-tree CPU, Python-worker memory and host state, read from /proc.

Everything here reads /proc only; nothing is used to adjust a metric.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_ticks(pid: int, with_children: bool) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields after the command: state=0 ... utime=11 stime=12 cutime=13 cstime=14
    ticks = int(f[11]) + int(f[12])
    if with_children:
        ticks += int(f[13]) + int(f[14])
    return ticks


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of ``root`` and every live descendant,
    plus what reaped descendants left in their parents' cutime/cstime.
    The root's own reaped children are left out: those are earlier
    sessions, not this one."""
    root = root or os.getpid()
    ticks = _cpu_ticks(root, with_children=False)
    for pid in descendants(root):
        ticks += _cpu_ticks(pid, with_children=True)
    return ticks / _TICK


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class WorkerRss:
    """Polls the peak RSS (VmHWM) of every Python worker under the
    session's JVM; ``peak_mb`` is the largest seen by any one worker."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "WorkerRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def sample(self) -> None:
        for pid in descendants(os.getpid()):
            if "pyspark" in _cmdline(pid) and "java" not in _cmdline(pid).split(" ", 1)[0]:
                self.peak_kb = max(self.peak_kb, _hwm_kb(pid))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def _cpu_line() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class HostState:
    """Hypervisor steal share of all host CPU time and the load average
    over a window — provenance only."""

    def __enter__(self) -> "HostState":
        self._start = _cpu_line()
        return self

    def __exit__(self, *exc) -> None:
        end = _cpu_line()
        delta = [b - a for a, b in zip(self._start, end)]
        total = sum(delta[:8]) or 1  # user..steal; guest time is inside user
        self.steal_frac = delta[7] / total if len(delta) > 7 else 0.0
        with open("/proc/loadavg") as fh:
            self.loadavg_1m = float(fh.read().split()[0])
