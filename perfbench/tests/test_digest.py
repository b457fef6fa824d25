"""The lane digest (perfbench.Main.digest, run in a JVM): the same rows in
another order or partitioning give the same digest; one changed value
gives another. Builds the program first if needed."""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import run  # noqa: E402


class Digest(unittest.TestCase):
    def test_digest_ignores_order_and_partitioning(self):
        try:
            classpath = build.build()
        except build.BuildError as e:
            self.skipTest(f"cannot build the program here: {e}")
        work = tempfile.mkdtemp(dir=build.BUILD)
        try:
            out = os.path.join(work, "selftest.json")
            rc = run.run_jvm(run.jvm_cmd(classpath, "", [
                "--selftest", "1", "--work", work, "--out", out]),
                os.path.join(work, "jvm.log"))
            self.assertEqual(rc, 0, open(os.path.join(work, "jvm.log")).read()[-2000:])
            r = json.load(open(out))
            self.assertEqual(len(set(r["digests"])), 1, r)
            self.assertTrue(r["digests"][0].startswith("5000:"), r)
            self.assertNotEqual(r["changed"], r["digests"][0])
            self.assertTrue(r["ok"])
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
