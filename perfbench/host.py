"""Host record and process bookkeeping, read straight from /proc.

The host record is reported next to every result and never used to drop
or re-select runs.
"""

from __future__ import annotations

import os
import signal
import threading
import time

STEAL_CLEAN = 0.5     # steal cores below this ...
BUSY_SLACK = 0.25     # ... and busy cores <= allotted + this = a clean run


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _cpu_jiffies() -> dict:
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return {"busy": v[0] + v[1] + v[2] + v[5] + v[6], "iowait": v[4],
            "steal": v[7] if len(v) > 7 else 0}


class HostWindow:
    """CPU accounting over one measurement window."""

    def __init__(self, allotted: int):
        self.allotted = allotted
        self.load_start = os.getloadavg()[0]
        self._t0 = time.monotonic()
        self._j0 = _cpu_jiffies()

    def record(self) -> dict:
        sec = max(time.monotonic() - self._t0, 1e-9)
        j1 = _cpu_jiffies()
        clk = os.sysconf("SC_CLK_TCK")

        def cores(k):
            return round((j1[k] - self._j0[k]) / clk / sec, 3)

        busy, steal = cores("busy"), cores("steal")
        return {
            "nproc": nproc(),
            "allotted_slots": self.allotted,
            "loadavg_start": round(self.load_start, 2),
            "loadavg_end": round(os.getloadavg()[0], 2),
            "busy_cores": busy,
            "steal_cores": steal,
            "iowait_cores": cores("iowait"),
            "window_s": round(sec, 3),
            "clean": steal < STEAL_CLEAN and busy <= self.allotted + BUSY_SLACK,
        }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the fields after it start at ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _cpu_ticks(pid: int) -> int:
    """utime + stime of `pid` and of its children it has waited for."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
        return int(v[11]) + int(v[12]) + int(v[13]) + int(v[14])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark driver JVM and its Python workers). Time the hypervisor steals
    from the VM is not in it."""
    me = os.getpid()
    ticks = sum(_cpu_ticks(p) for p in [me] + descendants(me))
    return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of this process's descendants (the Spark driver JVM
    and its Python workers), sampled on a daemon thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval_s):
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in descendants(me)))

    def reset(self) -> None:
        self.peak = 0

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def reap_descendants(timeout_s: float = 30.0) -> None:
    """Wait for every descendant process to exit; kill what outlives the
    timeout, then wait for that too."""
    deadline = time.monotonic() + timeout_s
    while descendants(os.getpid()) and time.monotonic() < deadline:
        _reap_zombies()
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while descendants(os.getpid()) and time.monotonic() < deadline:
        _reap_zombies()
        time.sleep(0.1)


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
