"""Self-tests of the benchmark's own arithmetic and failure accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They need no JVM: the failure test writes tiny parquet tables with DuckDB
and runs tools/compare_oracle.py over them exactly as a run does.
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analysis  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


def span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "name": str(sid), "layer": layer,
            "start": start, "end": end, "run": "t"}


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_and_clipped(self):
        spans = [span(1, 0, "item", 0, 10),
                 span(2, 1, "execute", 1, 3),
                 span(3, 1, "execute", 2, 5),      # overlaps 2: counted once
                 span(4, 1, "execute", 8, 12)]     # runs past its parent: clipped
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st[1], 10 - (4 + 2))
        self.assertAlmostEqual(st[2], 2)
        self.assertAlmostEqual(st[4], 4)

    def test_by_layer_sums_self_time(self):
        spans = [span(1, 0, "pass", 0, 10), span(2, 1, "item", 0, 4), span(3, 1, "item", 5, 9),
                 span(4, 2, "job", 1, 2)]
        by = analysis.self_time_by_layer(spans)
        self.assertAlmostEqual(by["pass"], 2)
        self.assertAlmostEqual(by["item"], 3 + 4)
        self.assertAlmostEqual(by["job"], 1)
        self.assertAlmostEqual(sum(by.values()), 10)  # self times tile the root

    def test_union_length(self):
        self.assertAlmostEqual(analysis.union_length([(0, 1), (0.5, 2), (3, 4), (4, 4)]), 3)
        self.assertEqual(analysis.union_length([]), 0)


class Tail(unittest.TestCase):
    def test_ten_samples_stay_beyond_the_tail(self):
        xs = list(range(1, 51))  # 50 samples: p80 leaves exactly 10 above it
        value, pct, n = analysis.tail(xs)
        self.assertEqual((value, pct, n), (40, 80.0, 50))
        self.assertEqual(sum(1 for x in xs if x > value), 10)

    def test_larger_sample_reaches_a_higher_percentile(self):
        value, pct, n = analysis.tail(list(range(1000)))
        self.assertEqual((pct, n), (99.0, 1000))
        self.assertEqual(value, 989)

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(analysis.tail([3, 1, 2]), (3, 100.0, 3))
        self.assertEqual(analysis.tail([])[2], 0)


class FailedFrac(unittest.TestCase):
    """A throwing query and a deliberately wrong result both count."""

    def setUp(self):
        import duckdb
        self.dir = tempfile.mkdtemp(prefix="perfbench-test-")
        sf, dump = os.path.join(self.dir, "sf"), os.path.join(self.dir, "dump")
        os.makedirs(sf)
        con = duckdb.connect()
        for t in oracle.load_compare(run.ROOT).TABLES:
            con.execute(f"COPY (SELECT 1 AS k) TO '{sf}/{t}.parquet' (FORMAT PARQUET)")
        sql = {"q_good": "SELECT k FROM region", "q_wrong": "SELECT k FROM nation",
               "q_throws": "SELECT k FROM orders"}
        for name, value in (("q_good", 1), ("q_wrong", 2)):  # q_wrong lands 2, oracle says 1
            os.makedirs(os.path.join(dump, name))
            con.execute(f"COPY (SELECT {value} AS k) TO '{dump}/{name}/part-0.parquet' "
                        "(FORMAT PARQUET)")
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump(sql, f)
        self.sf, self.dump = sf, dump

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def raw(self, warm_digest):
        names = ["q_good", "q_throws", "q_wrong"]
        item = {"start": 0, "constructed": 0, "end": 1, "secs": 0.001, "flow": False}
        return {"items": [{"name": n, "module": "M", "flow": False} for n in names],
                "cold_pass": {"label": "cold", "items": [
                    dict(item, name=n, ok=n != "q_throws", via_verify=True, digest=None)
                    for n in names]},
                "passes": [{"label": "warm", "items": [
                    dict(item, name="q_good", ok=True, digest=warm_digest),
                    dict(item, name="q_wrong", ok=True, digest="1:7")]}],
                "errors": {"q_throws": "cold: RuntimeException: boom"},
                "verify": {"dump_dir": self.dump, "flow_oracles": [],
                           "reference": {"q_good": "1:5", "q_wrong": "1:7", "q_throws": None}}}

    def test_exception_and_mismatch_are_failures(self):
        attempted, failed, bad = run.correctness(self.raw("1:5"), self.sf, timeout=60)
        # 5 executions + 3 oracle checks; the throw fails its execution and
        # leaves no dump, the wrong value fails its check.
        self.assertEqual(attempted, 8)
        self.assertEqual(failed, 3)
        self.assertIn("cold q_throws", bad)
        self.assertIn("q_wrong", bad)
        self.assertIn("q_throws", bad)
        self.assertNotIn("q_good", bad)

    def test_warm_result_differing_from_the_checked_one_is_a_failure(self):
        # The cold dump of q_good matches its oracle, but a warm execution
        # returns a different result: that execution fails.
        attempted, failed, bad = run.correctness(self.raw("2:9"), self.sf, timeout=60)
        self.assertEqual(attempted, 8)
        self.assertEqual(failed, 4)
        self.assertIn("warm q_good", bad)
        self.assertNotIn("q_good", bad)


    def test_flow_landing_is_compared_with_its_oracle(self):
        import duckdb
        land = os.path.join(self.dir, "flow", "_funnel")
        os.makedirs(land)
        duckdb.connect().execute(f"COPY (SELECT 1 AS k, 2 AS j) TO '{land}/part-0.parquet' "
                                 "(FORMAT PARQUET)")
        oracles = [{"flow": "f", "path": land, "query": "q_ok", "sql": "SELECT 1 AS k, 2 AS j"},
                   {"flow": "f", "path": land, "query": "q_bad", "sql": "SELECT 1 AS k, 3 AS j"}]
        got = oracle.check_flow_oracles(run.ROOT, self.sf, oracles)
        self.assertIsNone(got["oracle f/_funnel=q_ok"])
        self.assertIsNotNone(got["oracle f/_funnel=q_bad"])


if __name__ == "__main__":
    unittest.main()
