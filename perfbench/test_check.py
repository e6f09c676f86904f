"""Tests of the benchmark's checker: each fault must be caught, never dropped.

    python3 perfbench/test_check.py
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import workloads  # noqa: E402

SF01 = f"{workloads.TESTDATA}/sf0.1"
SF001 = f"{workloads.TESTDATA}/sf0.01"


class CheckerTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")
        os.makedirs(os.path.join(self.dir, "out"))

    def tearDown(self):
        shutil.rmtree(self.dir)

    def olap_run(self, rows_by_query, ops):
        for q, rows in rows_by_query.items():
            with open(os.path.join(self.dir, "out", f"{q}.json"), "w") as f:
                json.dump(rows, f)
        spec = {"kind": "olap", "data": SF01}
        return check.check(spec, ops, self.dir, 1)

    def oracle(self, q):
        con = check.connect(1)
        for t in check.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF01}/{t}.parquet')")
        rows = check.oracle_rows(con, q, SF01)
        con.close()
        return [[check.canon(c) for c in r] for r in rows]

    def op(self, q, p, ok=True, digest="d"):
        return {"op": q, "pass": p, "ok": ok, "ms": 1.0, "digest": digest}

    def test_correct_result_passes(self):
        rows = self.oracle("tpch_q10")
        r = self.olap_run({"tpch_q10": rows}, [self.op("tpch_q10", 0), self.op("tpch_q10", 1)])
        self.assertTrue(r["correct"], r["errors"])
        self.assertEqual((r["attempted"], r["failed"]), (2, 0))

    def test_corrupted_row_is_rejected(self):
        rows = self.oracle("tpch_q10")
        rows[0][1] = rows[0][1] + 1 if isinstance(rows[0][1], (int, float)) else "x"
        r = self.olap_run({"tpch_q10": rows}, [self.op("tpch_q10", 0)])
        self.assertFalse(r["correct"])

    def test_wrong_row_count_is_rejected(self):
        rows = self.oracle("tpch_q10")
        r = self.olap_run({"tpch_q10": rows[:-1]}, [self.op("tpch_q10", 0)])
        self.assertFalse(r["correct"])
        self.assertIn("row count", r["errors"][0])

    def test_warm_pass_with_another_result_is_rejected(self):
        rows = self.oracle("tpch_q10")
        r = self.olap_run({"tpch_q10": rows},
                          [self.op("tpch_q10", 0), self.op("tpch_q10", 1, digest="other")])
        self.assertFalse(r["correct"])

    def test_operation_that_throws_counts_as_failed(self):
        rows = self.oracle("tpch_q10")
        r = self.olap_run({"tpch_q10": rows}, [self.op("tpch_q10", 0), self.op("tpch_q10", 1, ok=False)])
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))
        self.assertTrue(r["correct"])

    def stmt_run(self, rows, ops):
        stmts = {"a": {"kind": "statement", "sql": "insert"},
                 "b": {"kind": "query", "sql": "select", "expected_rows": [(1, 2)]}}
        with open(os.path.join(self.dir, "out", "b.json"), "w") as f:
            json.dump(rows, f)
        return check.check({"kind": "stmt", "statements": stmts}, ops, self.dir, 1)

    def test_statement_that_throws_counts_as_failed(self):
        ops = [{"op": "a", "pass": 0, "ok": False, "ms": 1.0, "error": "boom"},
               {"op": "b", "pass": 0, "ok": True, "ms": 1.0}]
        r = self.stmt_run([[1, 2]], ops)
        self.assertEqual((r["attempted"], r["failed"], r["correct"]), (2, 1, True))

    def test_statement_result_against_the_replay(self):
        ops = [{"op": "a", "pass": 0, "ok": True, "ms": 1.0},
               {"op": "b", "pass": 0, "ok": True, "ms": 1.0}]
        self.assertTrue(self.stmt_run([[1, 2]], ops)["correct"])
        r = self.stmt_run([[1, 3]], ops)
        self.assertFalse(r["correct"])
        self.assertEqual(len(r["errors"]), 1)

    def test_date_equals_its_midnight_timestamp_only(self):
        import datetime
        day = datetime.date(2024, 1, 1)
        midnight = {"ts": 1704067200000000}
        self.assertIsNone(check.compare_rows([[midnight, 1]], [(day, 1)]))
        self.assertIsNotNone(check.compare_rows([[midnight, 1]], [(datetime.date(2024, 1, 2), 1)]))
        self.assertIsNotNone(check.compare_rows([[{"ts": 1704067200000001}, 1]], [(day, 1)]))

    def test_changed_input_fingerprint_fails_the_run(self):
        data = os.path.join(self.dir, os.path.basename(SF001))
        os.makedirs(data)
        con = check.connect(1)
        con.execute(f"COPY (SELECT r_regionkey, CASE WHEN r_regionkey = 0 THEN 'X' ELSE r_name "
                    f"END AS r_name FROM read_parquet('{SF001}/region.parquet')) "
                    f"TO '{data}/region.parquet' (FORMAT parquet)")
        con.close()
        workloads._pinned(SF001, ["region"], 1)  # the real input passes
        with self.assertRaises(SystemExit):
            workloads._pinned(data, ["region"], 1)

    def test_property_check_rejects_a_wrong_score(self):
        import properties
        con = check.connect(1)
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                    f"read_parquet('{SF01}/embeddings.parquet')")
        ids, m = properties._embeddings(con)
        q = m[ids == 0][0]
        cos = m @ q / ((m * m).sum(axis=1) * (q @ q)) ** 0.5
        top = sorted(((round(float(c), 6), int(i)) for i, c in zip(ids, cos) if i != 0),
                     key=lambda x: (-x[0], x[1]))[:10]
        good = [[i, s] for s, i in top]
        self.assertEqual(properties.CHECKS["vec_knn_ivf"](con, good), [])
        bad = [list(r) for r in good]
        bad[3][1] += 0.01
        self.assertTrue(properties.CHECKS["vec_knn_ivf"](con, bad))
        self.assertTrue(properties.CHECKS["vec_knn_ivf"](con, [[0, 1.0]] + good[:9]))
        con.close()


if __name__ == "__main__":
    unittest.main()
