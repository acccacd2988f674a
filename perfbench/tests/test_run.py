"""Tests for the lane check in perfbench/run.py.

Run from the root of the repository: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest
from decimal import Decimal

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402


class DigestTest(unittest.TestCase):
    rows = [(1, "a", 0.1 + 0.2), (2, None, 3.5), (3, "c", None)]

    def test_order_independent(self):
        self.assertEqual(run.digest(self.rows), run.digest(list(reversed(self.rows))))

    def test_dropped_or_duplicated_row_changes_it(self):
        d = run.digest(self.rows)
        self.assertNotEqual(run.digest(self.rows[1:]), d)
        self.assertEqual(run.digest(self.rows[1:])[0], 2)
        self.assertNotEqual(run.digest(self.rows + self.rows[:1]), d)

    def test_floats_rounded_so_summation_order_does_not_matter(self):
        self.assertEqual(run.canon(0.1 + 0.2), run.canon(0.3))
        self.assertNotEqual(run.canon(0.3), run.canon(0.30001))
        self.assertEqual(run.canon(Decimal("1.50")), run.canon(1.5))

    def test_null_and_text_differ(self):
        self.assertNotEqual(run.canon(None), run.canon("None"))
        self.assertNotEqual(run.canon("1"), run.canon(1))


class LaneCheckTest(unittest.TestCase):
    """check_lanes against a tiny fixture: a faithful result passes, a result
    with one dropped row fails."""

    def setUp(self):
        import duckdb
        self.dir = tempfile.mkdtemp()
        fixture = os.path.join(self.dir, "fixture")
        lanes = os.path.join(self.dir, "lanes")
        con = duckdb.connect()
        for t in ("lineitem", "orders", "documents", "events", "embeddings"):
            os.makedirs(os.path.join(fixture, f"{t}.parquet"))
            con.execute(f"COPY (SELECT range AS k, range * 0.5 AS v FROM range(5)) "
                        f"TO '{fixture}/{t}.parquet/part-0.parquet' (FORMAT parquet)")
        os.makedirs(os.path.join(lanes, "q_ok"))
        os.makedirs(os.path.join(lanes, "q_dropped"))
        con.execute(f"COPY (SELECT v, k FROM range(5) t(k), LATERAL (SELECT k * 0.5 AS v)) "
                    f"TO '{lanes}/q_ok/part-0.parquet' (FORMAT parquet)")
        con.execute(f"COPY (SELECT k, k * 0.5 AS v FROM range(4) t(k)) "
                    f"TO '{lanes}/q_dropped/part-0.parquet' (FORMAT parquet)")
        with open(os.path.join(lanes, "oracle_sql.json"), "w") as f:
            json.dump({"q_ok": "SELECT k, v FROM lineitem ORDER BY k DESC",
                       "q_dropped": "SELECT k, v FROM orders"}, f)
        self.fixture, self.lanes = fixture, lanes

    def test_dropped_row_is_reported(self):
        problems = run.check_lanes(self.fixture, self.lanes)
        self.assertNotIn("q_ok", problems)
        self.assertIn("q_dropped", problems)

    def test_failed_lane_counts_every_run(self):
        jvm = {"attempted": 12, "failed": 0, "op_runs": {"q_ok": 3, "q_dropped": 3},
               "metrics": {}}
        res = run.result(jvm, True, {"q_dropped": "digest"})
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 3)
        self.assertEqual(res["metrics"]["fail_ratio"]["value"], 0.25)


if __name__ == "__main__":
    unittest.main()
