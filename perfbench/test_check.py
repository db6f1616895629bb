#!/usr/bin/env python3
"""The output checks must reject a wrong answer and pass a right one.

    python3 perfbench/test_check.py

Builds the runner like `run.py`, generates the inputs of seed 7 and
computes DuckDB's answers for three ops: one oracle-bearing (`agg_group`),
one property-checked (`udaf_countmin`) and one left alone (`join_semi`).
Then it runs the real runner twice on them: once with the answers as made,
where every op must pass, and once with one value in each of the first two
answers nudged (a float by one part in a million, an exact count by one),
where exactly those two ops must fail and `correct` must be false.
"""
import json
import os
import shutil
import sys
import unittest

import oracle
import run

KEYS = ["agg_group", "udaf_countmin", "join_semi"]
SEED = 7


def nudge(path, column, change):
    with open(path) as f:
        body = json.load(f)
    i = body["columns"].index(column)
    body["rows"][0][i] = change(body["rows"][0][i])
    with open(path, "w") as f:
        json.dump(body, f)


class CheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        cls.work = os.path.join(run.WORK, "test")
        shutil.rmtree(cls.work, ignore_errors=True)
        os.makedirs(cls.work)
        cls.spec = os.path.join(cls.work, "spec.json")
        with open(cls.spec, "w") as f:
            json.dump({"check_test": {"warm": [], "keys": KEYS}}, f)
        cls.data = run.inputs(SEED, 1)
        with open(os.path.join(run.BUILD, "oracle_sql.json")) as f:
            cls.sqls = json.load(f)

    def answers(self, name):
        d = os.path.join(self.work, name)
        self.assertEqual(oracle.make(os.path.join(self.data, "rep0"), d, self.sqls, KEYS), [])
        return d

    def drive(self, expected):
        return run.drive(self.cp, self.spec, "check_test", self.data, expected, SEED,
                         0, 0, 1, os.path.join(self.work, "runner.log"), 170)

    def test_right_answers_pass(self):
        r = self.drive(self.answers("right"))
        self.assertTrue(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (3, 0))

    def test_nudged_answers_fail(self):
        d = self.answers("nudged")
        nudge(os.path.join(d, "agg_group.json"), "sum_qty", lambda v: v * (1 + 1e-6))
        nudge(os.path.join(d, "udaf_countmin.json"), "exact_n", lambda v: v + 1)
        r = self.drive(d)
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (3, 2))
        with open(os.path.join(self.work, "runner.log")) as f:
            failed = {l.split()[2].rstrip(":") for l in f if l.startswith("[perfbench] FAILED")}
        self.assertEqual(failed, {"agg_group", "udaf_countmin"})


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    unittest.main()
