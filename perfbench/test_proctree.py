"""Checks of the /proc process-tree sampler against children that burn a
known amount of CPU. Run with ``python3 -m pytest perfbench/test_proctree.py``
(or ``python3 perfbench/test_proctree.py``); it needs Linux /proc only."""

from __future__ import annotations

import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from proctree import ProcessTree  # noqa: E402

BURN_S = 1.0
# burn BURN_S of CPU, touch `mb` MiB, report, then wait for stdin to close
CHILD = """
import sys, time
mb = int(sys.argv[2])
block = bytearray(mb * 2**20)
for i in range(0, len(block), 4096):
    block[i] = 1
t0 = time.process_time()
while time.process_time() - t0 < float(sys.argv[1]):
    pass
print("done", flush=True)
sys.stdin.read()
"""


def cpu_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in after}


def _spawn(mb: int = 0) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", CHILD, str(BURN_S), str(mb)],
                            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)


def test_live_child_cpu_is_counted():
    tree = ProcessTree()
    before = tree.cpu()
    child = _spawn()
    try:
        assert child.stdout.readline().strip() == "done"
        d = cpu_delta(before, tree.cpu())
        # the child is alive: getrusage(RUSAGE_CHILDREN) would still show 0
        assert BURN_S - 0.05 <= d["python"] <= BURN_S + 0.5, d
        assert abs(d["total"] - d["driver"] - d["python"] - d["jvm"]) < 1e-9
    finally:
        child.stdin.close()
        child.wait(timeout=10)


def test_reaped_child_cpu_stays_counted():
    tree = ProcessTree()
    before = tree.cpu()
    child = _spawn()
    assert child.stdout.readline().strip() == "done"
    child.stdin.close()
    child.wait(timeout=10)          # reaped: its CPU moves to our cutime
    d = cpu_delta(before, tree.cpu())
    assert BURN_S - 0.05 <= d["total"] <= BURN_S + 0.5, d


def test_peak_rss_includes_child_and_survives_its_exit():
    tree = ProcessTree()
    base = tree.peak_rss_mb()
    child = _spawn(mb=200)
    assert child.stdout.readline().strip() == "done"
    peak_alive = tree.peak_rss_mb()
    child.stdin.close()
    child.wait(timeout=10)
    time.sleep(0.05)
    assert peak_alive - base >= 200, (base, peak_alive)
    assert tree.peak_rss_mb() >= peak_alive


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"ok {name}")
