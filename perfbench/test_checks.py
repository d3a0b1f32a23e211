#!/usr/bin/env python3
"""Tests that the benchmark counts a wrong output as a failed op execution:
a result whose digest differs from its pinned digest, in the cold pass or
in the last warm pass, and a failed structural check.

Usage: python3 perfbench/test_checks.py
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import duckdb  # noqa: E402
import build  # noqa: E402
import digest  # noqa: E402
import run  # noqa: E402


def write(path, sql):
    os.makedirs(path)
    duckdb.connect().execute(f"COPY ({sql}) TO '{path}/part-0.parquet' "
                             "(FORMAT PARQUET)")


class CheckCounting(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.BUILD, exist_ok=True)
        self.dir = tempfile.mkdtemp(dir=build.BUILD)
        self.right = os.path.join(self.dir, "right")
        write(self.right, "SELECT range AS k, range * 0.5 AS v FROM range(100)")
        self.sha = digest.of_parquet(self.right)
        self.pins = {("batch_mix", "q1"): self.sha}
        # q1 runs cold, then in three warm passes; q2 runs cold and warm
        self.res = {
            "checks": [
                {"name": "q1", "phase": "cold", "digest_path": self.right},
                {"name": "q1", "phase": "warm", "digest_path": self.right},
                {"name": "q2", "phase": "cold", "ok": True, "detail": "fine"},
                {"name": "q2", "phase": "warm", "ok": True, "detail": "fine"},
            ],
            "ops": [{"name": "q1", "pass": p, "error": None} for p in range(4)] +
                   [{"name": "q2", "pass": p, "error": None} for p in range(2)],
        }

    def tearDown(self):
        shutil.rmtree(self.dir)

    def check(self, name, phase):
        return next(c for c in self.res["checks"]
                    if (c["name"], c["phase"]) == (name, phase))

    def test_pinned_digest_passes(self):
        self.assertEqual(run.outcome(self.res, self.pins, "batch_mix")[:2], (6, 0))

    def test_corrupted_pin_fails_every_execution_of_the_op(self):
        pins = {("batch_mix", "q1"): "0" * 8 + self.sha[8:]}
        attempted, failed, wrong = run.outcome(self.res, pins, "batch_mix")
        self.assertEqual((attempted, failed), (6, 4))
        self.assertEqual(set(wrong), {("cold", "q1"), ("warm", "q1")})

    def test_wrong_warm_result_fails_the_warm_executions(self):
        wrong = os.path.join(self.dir, "wrong")
        write(wrong, "SELECT range AS k, range * 0.25 AS v FROM range(100)")
        self.check("q1", "warm")["digest_path"] = wrong
        attempted, failed, bad = run.outcome(self.res, self.pins, "batch_mix")
        self.assertEqual((attempted, failed), (6, 3))
        self.assertEqual(set(bad), {("warm", "q1")})

    def test_missing_pin_is_a_failure(self):
        self.assertEqual(run.outcome(self.res, {}, "batch_mix")[1], 4)

    def test_failed_structural_check(self):
        self.check("q2", "cold").update(ok=False, detail="events 9/10")
        self.assertEqual(run.outcome(self.res, self.pins, "batch_mix")[1], 1)

    def test_thrown_op_is_a_failure(self):
        self.res["ops"][2]["error"] = "RuntimeException: boom"
        self.assertEqual(run.outcome(self.res, self.pins, "batch_mix")[1], 1)

    def test_digest_ignores_row_order(self):
        shuffled = os.path.join(self.dir, "shuffled")
        write(shuffled, "SELECT range AS k, range * 0.5 AS v FROM range(100) "
                        "ORDER BY k DESC")
        self.assertEqual(digest.of_parquet(shuffled), self.sha)


if __name__ == "__main__":
    unittest.main()
