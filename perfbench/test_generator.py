"""Benchmark-local test of the seeded input generator: the same seed gives
an identical row digest and query pool, a different seed a different digest.

    python3 perfbench/test_generator.py
"""

import os
import shutil
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_seed_determines_rows(self):
        jar, _ = build.build()
        work = os.path.join(build.ROOT, ".bench_build", "runs", "gencheck-%d" % os.getpid())
        os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
        try:
            cmd = run.java_cmd(jar, os.path.join(work, "tmp"), "perfbench.GenCheck",
                               ["7", "8", work], archive_classes=False)
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        failures = [l for l in r.stderr.splitlines() if l.startswith("GenCheck failed")]
        self.assertEqual(failures, [])
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("GenCheck: ok", r.stdout)


if __name__ == "__main__":
    unittest.main()
