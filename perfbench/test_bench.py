"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import unittest
from pathlib import Path

import metrics
import oracle


class TailTest(unittest.TestCase):
    def test_fewer_than_twenty_samples_have_no_tail(self):
        self.assertIsNone(metrics.tail(list(range(19))))

    def test_ten_samples_lie_beyond_the_tail(self):
        values = list(range(100, 0, -1))
        value, pct, n = metrics.tail(values)
        self.assertEqual((value, pct, n), (90, 90, 100))
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_percentile_falls_as_samples_shrink(self):
        value, pct, n = metrics.tail([float(i) for i in range(24)])
        self.assertEqual((value, pct, n), (13.0, 58, 24))


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_intervals_count_once(self):
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (6, 7), (20, 25)]), 20)

    def test_touching_intervals_merge(self):
        self.assertEqual(metrics.union_length([(0, 5), (5, 10)]), 10)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 5), (8, 30)], lo=0, hi=10), 7)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part_once(self):
        # a 100-unit span with two overlapping children covering 30..70
        self.assertEqual(metrics.self_time(0, 100, [(30, 60), (40, 70)]), 60)

    def test_children_outside_the_span_do_not_count(self):
        self.assertEqual(metrics.self_time(10, 20, [(0, 12), (18, 40)]), 6)

    def test_driver_gap_is_query_time_no_job_covers(self):
        jobs = [(100, 200), (150, 300), (400, 450)]
        self.assertEqual(metrics.self_time(0, 500, jobs), 500 - 250)


class OrderTest(unittest.TestCase):
    names = [f"q{i:02d}" for i in range(24)]

    def test_same_seed_same_order(self):
        for i in range(5):
            self.assertEqual(metrics.pass_order(self.names, 7, i),
                             metrics.pass_order(list(self.names), 7, i))

    def test_order_is_a_permutation_that_varies(self):
        a, b = metrics.pass_order(self.names, 7, 0), metrics.pass_order(self.names, 8, 0)
        self.assertEqual(sorted(a), sorted(self.names))
        self.assertNotEqual(a, b)
        self.assertNotEqual(a, metrics.pass_order(self.names, 7, 1))


def _span(i, kind, parent, s, e, name="q"):
    return {"id": i, "kind": kind, "name": name, "parent": parent,
            "start_us": s, "end_us": e}


class AttributionTest(unittest.TestCase):
    """One query (body 0..10 ms, sink 10..20 ms) with three jobs: one
    tagged with the body span, one carrying a stale tag from an earlier
    span but started inside the sink, one untagged inside the body."""

    trace = {
        "spans": [_span(1, "run", 0, 0, 30000), _span(2, "pass", 1, 0, 25000),
                  _span(3, "query", 2, 0, 20000), _span(4, "body", 3, 0, 10000),
                  _span(5, "sink", 3, 10000, 20000),
                  _span(8, "query", 2, -9000, -5000), _span(9, "body", 8, -9000, -5000)],
        "jobs": [{"ev": "start", "job": 0, "t_ms": 1, "span": 4},
                 {"ev": "end", "job": 0, "t_ms": 4, "ok": True},
                 {"ev": "start", "job": 1, "t_ms": 12, "span": 9},
                 {"ev": "end", "job": 1, "t_ms": 18, "ok": True},
                 {"ev": "start", "job": 2, "t_ms": 3, "span": 0},
                 {"ev": "end", "job": 2, "t_ms": 6, "ok": True}],
        "stages": [{"stage": 0, "job": 1, "tasks": 4, "run_ms": 8, "cpu_ms": 6.0,
                    "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                    "output": 0, "input": 0, "task_max_ms": 6, "task_med_ms": 2}],
        "blocks": [], "execs": [], "streams": [],
        "progress": [{"t_ms": 2, "batch": 0, "rows": 0, "state_bytes": 0,
                      "dur": {"triggerExecution": 5, "addBatch": 3}}],
        "after_query": [{"span": 3, "block_left": 0, "scratch_files": 2,
                         "scratch_bytes": 10}],
    }

    def test_jobs_attributed_by_tag_then_time(self):
        at = metrics.Attribution(self.trace)
        self.assertEqual({j: at.jobs[j]["span"] for j in at.jobs}, {0: 4, 1: 5, 2: 4})

    def test_per_query_record(self):
        (name, rec), = metrics.per_query(self.trace).values()
        self.assertEqual(rec["operators.jobs"], 3)
        self.assertEqual(rec["operators.tasks"], 4)
        self.assertEqual(rec["operators.task_skew"], 3.0)
        # jobs cover 1..6 and 12..18 ms of the 20 ms query
        self.assertEqual(rec["queries.driver_gap_ms"], 9.0)
        self.assertEqual(rec["streaming.batches"], 1)
        self.assertEqual(rec["streaming.empty_batches"], 1)
        # the batch runs 2..7 ms and jobs cover its 2..6 ms
        self.assertEqual(rec["spans.batch_self_ms"], 1.0)
        # body 0..10: jobs and the batch cover 1..7
        self.assertEqual(rec["spans.body_self_ms"], 4.0)


class OracleCheckTest(unittest.TestCase):
    """Results are judged by the repository's gate, tools/compare.py:
    the same rows in any order, every value exactly."""

    def setUp(self):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                         "(1, 0.1, 'a'), (2, 'nan'::DOUBLE, 'b'), (2, 0.3, 'b')) v(k, x, s)")

    def tearDown(self):
        self.con.close()

    def test_same_rows_in_another_order_and_column_order_match(self):
        self.assertIsNone(oracle.mismatch(
            self.con, "SELECT * FROM t", "SELECT s, x, k FROM t ORDER BY k DESC"))

    def test_doubles_compare_to_the_last_bit_and_nan_equals_nan(self):
        same = "SELECT k, CASE WHEN k = 1 THEN 1.0::DOUBLE / 10 ELSE x END AS x, s FROM t"
        self.assertIsNone(oracle.mismatch(self.con, "SELECT * FROM t", same))
        next_up = "SELECT k, CASE WHEN k = 1 THEN nextafter(x, 1.0) ELSE x END AS x, s FROM t"
        self.assertIn("VALS  1 differing rows",
                      oracle.mismatch(self.con, "SELECT * FROM t", next_up))

    def test_duplicates_count(self):
        why = oracle.mismatch(self.con, "SELECT * FROM t",
                              "SELECT * FROM t UNION ALL SELECT * FROM t WHERE k = 1")
        self.assertEqual(why, "ROWS  spark=3 oracle=4")

    def test_columns_must_match(self):
        self.assertIn("COLS", oracle.mismatch(self.con, "SELECT * FROM t",
                                              "SELECT k, x FROM t"))


class GateAgreementTest(unittest.TestCase):
    """The check passes exactly what tools/compare.py passes, whether
    DuckDB's exact comparison decides or the gate itself."""

    def test_same_verdicts_as_the_gate(self):
        import duckdb

        con = duckdb.connect()
        con.execute("CREATE TABLE f AS SELECT * FROM (VALUES (1, 0.1::DOUBLE), "
                    "(2, 'nan'::DOUBLE), (3, 0.0::DOUBLE), (4, NULL), (5, 2.0::DOUBLE)) v(k, x)")
        f = "SELECT * FROM f"
        cases = {  # name: (spark result, oracle result, gate passes)
            "same rows": (f, "SELECT x, k FROM f ORDER BY k DESC", True),
            "one bit apart": (f, "SELECT k, CASE WHEN k = 1 THEN nextafter(x, 1.0) ELSE x END AS x FROM f",
                              False),
            "signed zero": (f, "SELECT k, CASE WHEN k = 3 THEN -0.0::DOUBLE ELSE x END AS x FROM f",
                            False),
            "null as zero": (f, "SELECT k, coalesce(x, 0.0) AS x FROM f", False),
            "nan as null": (f, "SELECT k, CASE WHEN k = 2 THEN NULL ELSE x END AS x FROM f", True),
            "text of a double": ("SELECT k, x FROM f WHERE k = 5",
                                 "SELECT k, '2.0' AS x FROM f WHERE k = 5", True),
            "integer and double": ("SELECT k, x::BIGINT AS x FROM f WHERE k = 5",
                                   "SELECT k, x FROM f WHERE k = 5", False),
        }
        for what, (got, exp, passes) in cases.items():
            with self.subTest(what):
                gate = oracle.gate().compare(what, con.sql(got).df(), con.sql(exp).df())
                self.assertEqual(gate is None or gate.startswith("OK"), passes, gate)
                self.assertEqual(oracle.mismatch(con, got, exp) is None, passes)
        con.close()


class CorpusDigestTest(unittest.TestCase):
    """The input hash ignores row order and file layout, not contents."""

    def digest(self, root, rows):
        import duckdb

        root.mkdir()
        with duckdb.connect() as con:
            for t in oracle.gate().TABLES:
                con.execute(f"COPY (SELECT * FROM (VALUES {rows}) v(a, b)) "
                            f"TO '{root / t}.parquet' (FORMAT PARQUET)")
        return oracle.corpus_digest(root)

    def test_order_free_but_content_bound(self):
        import tempfile

        with tempfile.TemporaryDirectory() as d:
            d = Path(d)
            a = self.digest(d / "a", "(1, 'x'), (2, 'y')")
            self.assertEqual(a, self.digest(d / "b", "(2, 'y'), (1, 'x')"))
            self.assertNotEqual(a, self.digest(d / "c", "(1, 'x'), (2, 'z')"))


if __name__ == "__main__":
    unittest.main()
