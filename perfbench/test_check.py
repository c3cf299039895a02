"""Tests of the output check: it must accept the oracle's own answer and
reject a perturbed one.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import os
import sys
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))

import check  # noqa: E402
from check_oracle import normalize  # noqa: E402

ORACLE = ("SELECT * FROM (VALUES (1, 'a', 0.5::DOUBLE), (2, 'b', '-0.0'::DOUBLE), "
          "(3, 'c', 1e-12::DOUBLE)) t(id, s, v)")


class NormalisationTest(unittest.TestCase):
    def test_sql_matches_check_oracle(self):
        """Two values are equal after the SQL normalisation exactly when
        they are equal after check_oracle's."""
        values = [0.1, 0.1 + 1e-13, 0.1 + 1e-8, 0.0, -0.0, -1e-12, 1e-12,
                  float("nan"), 2.5, 123456.7890123456]
        con = duckdb.connect()
        sql = [con.sql(f"SELECT {check.norm_expr('v', 'DOUBLE')} FROM "
                       f"(SELECT CAST('{v!r}' AS DOUBLE) AS v)").fetchone()[0]
               for v in values]
        py = [normalize([(v,)])[0][0] for v in values]
        for i in range(len(values)):
            for j in range(len(values)):
                same_py = (py[i] == py[j] or (py[i] == "NaN" and py[j] == "NaN"))
                self.assertEqual(sql[i] == sql[j], same_py, (values[i], values[j]))


class CompareTest(unittest.TestCase):
    def setUp(self):
        self.con = duckdb.connect()

    def program(self, rows):
        t = pa.table({"id": [r[0] for r in rows], "s": [r[1] for r in rows],
                      "v": [r[2] for r in rows]})
        self.con.register("prog", t)
        return "SELECT * FROM prog"

    def test_accepts_the_oracle_answer_up_to_float_noise(self):
        p = self.program([(3, "c", 1e-12 + 1e-20), (1, "a", 0.5 + 1e-13), (2, "b", -0.0)])
        self.assertIsNone(check.compare(self.con, p, ORACLE))

    def test_rejects_a_perturbed_value(self):
        p = self.program([(1, "a", 0.5 + 1e-6), (2, "b", -0.0), (3, "c", 1e-12)])
        self.assertIsNotNone(check.compare(self.con, p, ORACLE))

    def test_rejects_a_sign_flipped_zero(self):
        p = self.program([(1, "a", 0.5), (2, "b", 0.0), (3, "c", 1e-12)])
        self.assertIsNotNone(check.compare(self.con, p, ORACLE))

    def test_rejects_a_missing_or_duplicated_row(self):
        self.assertIsNotNone(check.compare(
            self.con, self.program([(1, "a", 0.5), (2, "b", -0.0)]), ORACLE))
        self.assertIsNotNone(check.compare(
            self.con, self.program([(1, "a", 0.5), (1, "a", 0.5), (2, "b", -0.0)]), ORACLE))

    def test_digest_ignores_order_but_not_values(self):
        a = self.program([(1, "a", 0.5), (2, "b", -0.0)])
        d1 = check.digest(self.con, a)
        b = self.program([(2, "b", -0.0), (1, "a", 0.5)])
        self.assertEqual(d1, check.digest(self.con, b))
        c = self.program([(2, "b", -0.0), (1, "a", 0.25)])
        self.assertNotEqual(d1, check.digest(self.con, c))


class CheckRunTest(unittest.TestCase):
    """check_run over a fake three-request run of a same-input workload
    whose requests each return a results table `t` and a tearsheet table
    `daily`, both checked against an oracle on the first and last request,
    as backtest_eod's melt and perf tables are."""

    T = [(1, 0.5), (2, 1.5)]
    DAILY = [(10, 0.25)]

    def run_with(self, t, daily):
        with tempfile.TemporaryDirectory() as d:
            for name, outputs in (("t", t), ("daily", daily)):
                for i, rows in enumerate(outputs):
                    os.makedirs(f"{d}/{name}/request={i}")
                    pq.write_table(pa.table({"id": [r[0] for r in rows],
                                             "v": [r[1] for r in rows]}),
                                   f"{d}/{name}/request={i}/part-0.parquet")
            specs = [{"query": q, "output": name, "views": {"src": "SELECT 1 AS x"}}
                     for name, q in (("t", "q"), ("daily", "perf_q"))]
            run = {"last_request": 2, "between": "same_as_first",
                   "requests": [{"i": i, "tables": ["t", "daily"], "full": specs,
                                 "between": specs} for i in range(3)]}
            catalog = {"q": "SELECT * FROM (VALUES (1, 0.5), (2, 1.5)) t(id, v)",
                       "perf_q": "SELECT * FROM (VALUES (10, 0.25)) t(id, v)"}
            return check.check_run(json.loads(json.dumps(run)), d, catalog)

    def test_all_correct(self):
        self.assertEqual(self.run_with([self.T] * 3, [self.DAILY] * 3), {})

    def test_perturbed_middle_request_is_caught(self):
        self.assertEqual(set(self.run_with([self.T, [(1, 0.5), (2, 1.25)], self.T],
                                           [self.DAILY] * 3)), {1})

    def test_perturbed_last_request_is_caught(self):
        self.assertEqual(set(self.run_with([self.T, self.T, [(1, 0.5)]],
                                           [self.DAILY] * 3)), {2})

    def test_perturbed_tearsheet_is_caught(self):
        """A tearsheet that is wrong the same way on every request passes
        the digest check; the oracle replay on the first and last
        request still catches it."""
        self.assertEqual(set(self.run_with([self.T] * 3, [[(10, 0.3)]] * 3)), {0, 2})


class SimhashTest(unittest.TestCase):
    def test_near_copies_pair_and_strangers_do_not(self):
        con = duckdb.connect()
        words = " ".join(f"w{i}" for i in range(60))
        docs = pa.table({"doc_id": [1, 2, 3],
                         "text": [words, words.upper() + "!", "x y z " * 20]})
        con.register("docs", docs)
        cache = {}
        t = check.simhash_pairs(con, "SELECT * FROM docs", 2, cache)
        self.assertEqual(t.to_pylist(), [{"id_a": 1, "id_b": 2, "hamming": 0}])
        self.assertEqual(len(cache), 3)
        self.assertTrue(all(0 <= v < 2 ** 64 for v in cache.values()))
        self.assertFalse(math.isnan(float(cache[1])))


if __name__ == "__main__":
    unittest.main()
