"""End-to-end smoke runs of the benchmark on its tiny fixtures: the base
tables as they are and 10k CDR records, one second of timing. The first
run builds with sbt. The planted workload (one right op, one that
throws, one wrong result) must fail.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'
"""
import json
import os
import shutil
import subprocess
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run(workload, trace=0):
    r = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    lines = r.stdout.strip().splitlines()
    return r.returncode, lines, json.loads(lines[-1]) if lines else None


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
class Smoke(unittest.TestCase):
    def check_clean(self, workload, trace=0):
        code, lines, result = run(workload, trace)
        self.assertEqual(code, 0, "\n".join(lines))
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreater(result["attempted"], 0)
        correct = [l for l in lines if l.startswith("correct ")]
        k, n = correct[0].split()[1].split("/")
        self.assertEqual(k, n)
        return result

    def test_sql(self):
        m = self.check_clean("sql")["metrics"]
        for name in ("pass_s", "op_geomean_s", "setup_s", "heap_peak_mb", "records_per_s"):
            self.assertGreater(m[name]["value"], 0, name)

    def test_cdr_traced(self):
        m = self.check_clean("cdr", trace=1)["metrics"]
        self.assertGreater(m["scheduler.jobs"]["value"], 0)
        self.assertGreater(m["streaming.batches"]["value"], 0)
        self.assertGreater(m["write.records"]["value"], 0)

    def test_planted_failures_are_counted(self):
        code, lines, result = run("planted")
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        # every pass attempts three ops, two of which fail
        self.assertEqual(result["failed"] * 3, result["attempted"] * 2)
        self.assertIn("correct 1/3", lines)


if __name__ == "__main__":
    unittest.main()
