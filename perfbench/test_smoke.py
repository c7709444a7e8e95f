"""The benchmark's own test: smoke mode runs every workload and every
correctness check on tiny inputs, so a broken command or a failing
check shows before a full run.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

Run it from the root of the repository; it takes one to two minutes
after the first build.
"""
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))


class SmokeTest(unittest.TestCase):
    def test_smoke(self):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True,
                           timeout=1200)
        self.assertEqual(p.returncode, 0, p.stdout[-3000:] + p.stderr[-3000:])
        self.assertIn("smoke ok", p.stdout)


if __name__ == "__main__":
    unittest.main()
