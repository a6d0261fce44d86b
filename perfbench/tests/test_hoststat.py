"""Process bookkeeping: a run waits for every process it started."""

import os
import subprocess

from perfbench import hoststat


def test_descendants_are_found_and_reaped():
    parent = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60 & wait"])
    try:
        kids = []
        for _ in range(100):
            kids = hoststat.descendants(parent.pid)
            if len(kids) == 2:
                break
            subprocess.run(["sleep", "0.02"], check=True)
        assert len(kids) == 2
        assert set(kids) <= set(hoststat.descendants(os.getpid()))
    finally:
        parent.kill()
        parent.wait(timeout=10)
    hoststat.reap(kids, timeout=0.2)
    assert not any(hoststat._alive(p) for p in kids)


def test_steal_share():
    before = [0] * 10
    after = [50, 0, 20, 20, 0, 0, 0, 10, 0, 0]
    assert hoststat.steal_pct(before, after) == 10.0
    assert hoststat.steal_pct(before, before) == 0.0
