#!/usr/bin/env python3
"""Tests of the bench's own logic.

    python3 joinbench/test_bench.py

The Python side (oracle failure counting, the result line) is tested here;
the Scala side (generator ground truth, latency origins, tail percentile,
failure counting in the stream check) runs as graft.bench.SelfTest after a
build.
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402


class OracleFailures(unittest.TestCase):
    def test_counts_fail_lines(self):
        out = "OK   q1: 3 rows\nFAIL q2: rows spark=1 duck=2\nFAIL q3: no spark output\n"
        self.assertEqual(run.count_oracle_failures(out, 1), 2)

    def test_clean_run_has_none(self):
        self.assertEqual(run.count_oracle_failures("OK   q1: 3 rows\n", 0), 0)

    def test_crash_without_fail_lines_counts_once(self):
        self.assertEqual(run.count_oracle_failures("Traceback ...\n", 1), 1)


class ResultLine(unittest.TestCase):
    def res(self, failed, notes):
        return {"failed": failed, "attempted": 10, "notes": notes,
                "values": {"a": 1.5, "b": 2.0}}

    def test_shape(self):
        line = run.result_line(self.res(0, []), ["a", "b"], {"a": "ms", "b": "s"})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(line["correct"])
        self.assertEqual(line["metrics"]["a"], {"value": 1.5, "unit": "ms"})

    def test_failures_make_it_incorrect(self):
        self.assertFalse(run.result_line(self.res(2, []), ["a"], {"a": "ms"})["correct"])

    def test_a_note_makes_it_incorrect(self):
        line = run.result_line(self.res(0, ["backlog grew"]), ["a"], {"a": "ms"})
        self.assertFalse(line["correct"])


class RepeatCheck(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.env = os.environ.get("CARGO_TARGET_DIR")
        os.environ["CARGO_TARGET_DIR"] = self.dir.name

    def tearDown(self):
        if self.env is None:
            del os.environ["CARGO_TARGET_DIR"]
        else:
            os.environ["CARGO_TARGET_DIR"] = self.env
        self.dir.cleanup()

    def res(self, peak):
        return {"failed": 0, "notes": [], "layers": {"closed_loop_state_rows_peak": peak, "rows_out": 1}}

    def test_same_build_must_repeat(self):
        run.check_repeats(self.res(27025), 1, "a" * 64)
        again = self.res(27026)
        run.check_repeats(again, 1, "a" * 64)
        self.assertEqual(again["failed"], 1)

    def test_another_build_or_seed_starts_afresh(self):
        run.check_repeats(self.res(27025), 1, "a" * 64)
        for seed, stamp in ((1, "b" * 64), (2, "a" * 64)):
            r = self.res(30000)
            run.check_repeats(r, seed, stamp)
            self.assertEqual(r["failed"], 0)


class ScalaSelfTest(unittest.TestCase):
    def test_self_test_passes(self):
        classes = build.ensure_built()
        r = subprocess.run(["java", "-cp", build.classpath(classes), "graft.bench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertTrue(r.stdout.startswith("OK"), r.stdout)


if __name__ == "__main__":
    unittest.main()
