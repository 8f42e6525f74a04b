"""Digest order-insensitivity and bit sensitivity, checked on the JVM
digest the harness uses (perfbench/scala/Digest.scala).

Builds the harness if needed (about 30 s the first time).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402


@unittest.skipIf(shutil.which("java") is None or not os.path.isdir(build.SPARK_JARS),
                 "needs java and the Spark jars")
class DigestProperties(unittest.TestCase):
    def test_digest_properties(self):
        classes = build.build()
        r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", build.classpath(classes), "perfbench.DigestCheck"],
                           capture_output=True, text=True, timeout=120)
        lines = r.stdout.strip().splitlines()
        self.assertGreaterEqual(len(lines), 10, r.stdout + r.stderr)
        for line in lines:
            self.assertTrue(line.startswith("PASS"), line)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)


if __name__ == "__main__":
    unittest.main()
