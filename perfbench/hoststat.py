"""Host figures and process bookkeeping from /proc: resident memory
peaks, CPU steal and the processes a run leaves behind."""

from __future__ import annotations

import os
import signal
import time


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else 0.0


def _parent(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # the command name may hold spaces; the fields after it do not
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            ppid = _parent(int(name))
            if ppid is not None:
                children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def reap(pids: list[int], timeout: float) -> None:
    """Wait up to ``timeout`` seconds for ``pids`` to exit, then kill the
    ones left and wait for them too."""
    deadline = time.monotonic() + timeout
    live = list(pids)
    while live:
        live = [p for p in live if _alive(p)]
        if not live:
            return
        if time.monotonic() > deadline:
            for p in live:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False
