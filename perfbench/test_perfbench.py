"""Tests of the benchmark itself (not of graft).

    python3 -m unittest perfbench/test_perfbench.py

Each case starts one short benchmark process on a few cheap gates, so the
suite takes a few minutes; the first case builds if the sources changed.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GATES = ["q_str_misc", "q_str_trim", "q_str_replace_n"]


def run(*args):
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py")] + list(args),
                          cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, lines, proc.stderr


def expected_digests():
    with open(os.path.join(HERE, "expected_digests.txt")) as f:
        return dict(l.split() for l in f if l.strip() and not l.startswith("#"))


class GateChecks(unittest.TestCase):
    def test_corrupted_digest_fails_exactly_that_op(self):
        digests = expected_digests()
        bad = GATES[1]
        digests[bad] = str(int(digests[bad]) ^ 1)
        # Inside the checkout: the benchmark JVM gets a private /tmp.
        scratch = os.path.join(ROOT, ".bench_build")
        os.makedirs(scratch, exist_ok=True)
        with tempfile.NamedTemporaryFile("w", suffix=".txt", dir=scratch,
                                         delete=False) as f:
            f.write("".join("%s %s\n" % kv for kv in digests.items()))
        try:
            code, lines, err = run("--workload", "floor_mix", "--seed", "3",
                                   "--seconds", "1", "--trace", "0",
                                   "--gates", ",".join(GATES), "--expected", f.name)
        finally:
            os.unlink(f.name)
        self.assertEqual(code, 0, err)
        result = json.loads(lines[-1])
        failures = json.loads(lines[-2])["run"]["failures"]
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertEqual({x["op"] for x in failures}, {bad})
        per_pass = len(GATES)
        self.assertEqual(result["failed"] * per_pass, result["attempted"])

    def test_traced_spans_cover_ops(self):
        code, lines, err = run("--workload", "floor_mix", "--seed", "4",
                               "--seconds", "1", "--trace", "1",
                               "--gates", ",".join(GATES))
        self.assertEqual(code, 0, err)
        result = json.loads(lines[-1])
        self.assertTrue(result["correct"])
        m = result["metrics"]
        self.assertGreaterEqual(m["trace.span_coverage_min"]["value"], 0.95)
        self.assertIn("trace.overhead_frac", m)
        self.assertGreater(m["exec.jobs_per_op"]["value"], 0)

    def test_refuses_without_sources(self):
        with tempfile.TemporaryDirectory() as d:
            os.symlink(HERE, os.path.join(d, "perfbench"))
            proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                   "floor_mix", "--seed", "1", "--seconds", "1",
                                   "--trace", "0"], cwd=d, capture_output=True,
                                  text=True, timeout=60)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout, "")


if __name__ == "__main__":
    unittest.main()
