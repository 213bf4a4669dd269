"""Argument checks of run.py: a bad invocation fails before any build.

    python3 -m unittest perfbench/test_run.py
"""

import os
import subprocess
import sys
import unittest

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run(*args):
    return subprocess.run([sys.executable, RUN, *args], capture_output=True,
                          text=True, timeout=60)


class RunArgsTest(unittest.TestCase):
    def test_unknown_workload_fails(self):
        r = run("--workload", "kg_bulk", "--seed", "1")
        self.assertNotEqual(r.returncode, 0)
        self.assertIn("invalid choice", r.stderr)
        self.assertEqual(r.stdout, "")

    def test_missing_seed_fails(self):
        r = run("--workload", "kg_buckets")
        self.assertNotEqual(r.returncode, 0)
        self.assertIn("--seed", r.stderr)
        self.assertEqual(r.stdout, "")


if __name__ == "__main__":
    unittest.main()
