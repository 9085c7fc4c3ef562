"""Tests of the /proc process-tree sampler on a synthetic tree.

    python3 -m unittest perfbench/test_proctree.py

The test process starts a child, which starts a grandchild; each one
allocates memory or burns CPU, and the sampler must see all of it.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from proctree import (  # noqa: E402
    RssSampler,
    process_start_epoch,
    tree_cpu_s,
    tree_pids,
    tree_rss_mb,
)

# A process that holds MB of touched memory, optionally starts a copy
# of itself holding as much, reports the pids, then waits for stdin EOF.
HOLD = r"""
import subprocess, sys
mb, depth = int(sys.argv[1]), int(sys.argv[2])
buf = bytearray(mb * 2**20)
buf[::4096] = b"x" * len(buf[::4096])
kid = None
if depth > 0:
    kid = subprocess.Popen([sys.executable, "-c", sys.argv[3], str(mb), str(depth - 1), sys.argv[3]],
                           stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    pids = kid.stdout.readline().split()
else:
    pids = []
print(" ".join(["%d" % __import__("os").getpid()] + pids), flush=True)
sys.stdin.read()
if kid:
    kid.stdin.close()
    kid.wait()
"""

# Burns CPU in a grandchild that exits and is reaped, then burns some
# itself, reports "done", then waits for stdin EOF.
BURN = r"""
import subprocess, sys, time
def burn(s):
    t = time.process_time()
    while time.process_time() - t < s:
        pass
grand = subprocess.run([sys.executable, "-c", sys.argv[1]], check=True)
burn(0.2)
print("done", flush=True)
sys.stdin.read()
"""
GRAND_BURN = r"""
import time
t = time.process_time()
while time.process_time() - t < 0.4:
    pass
"""


class ProcTreeTest(unittest.TestCase):
    def test_tree_walk_and_rss(self):
        base = tree_rss_mb()
        sampler = RssSampler(interval=0.02).start()
        t_before = time.time()
        child = subprocess.Popen(
            [sys.executable, "-c", HOLD, "64", "1", HOLD],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            pids = [int(p) for p in child.stdout.readline().split()]
            t_after = time.time()
            self.assertEqual(len(pids), 2)
            self.assertEqual(pids[0], child.pid)
            live = tree_pids()
            for p in pids:
                self.assertIn(p, live)
            # two processes x 64 MB touched, beyond what we held before
            self.assertGreater(tree_rss_mb() - base, 120)
            time.sleep(0.1)
            self.assertGreater(sampler.stop() - base, 120)
            self.assertGreaterEqual(sampler.samples, 2)
            started = process_start_epoch(child.pid)
            self.assertGreater(started, t_before - 1.0)
            self.assertLess(started, t_after + 1.0)
        finally:
            child.stdin.close()
            child.wait(timeout=30)
        self.assertEqual(tree_pids(), [os.getpid()])

    def test_cpu_counts_reaped_descendants(self):
        cpu0 = tree_cpu_s()
        child = subprocess.Popen(
            [sys.executable, "-c", BURN, GRAND_BURN],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            self.assertEqual(child.stdout.readline().strip(), "done")
            # grandchild (0.4 s, exited and reaped) + child (0.2 s)
            self.assertGreater(tree_cpu_s() - cpu0, 0.55)
        finally:
            child.stdin.close()
            child.wait(timeout=30)
        # once reaped by us, the child's CPU moves into our cutime
        self.assertGreater(tree_cpu_s() - cpu0, 0.55)


if __name__ == "__main__":
    unittest.main()
