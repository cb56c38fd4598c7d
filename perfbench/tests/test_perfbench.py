"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench/tests"""
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SMALL = dict(sf=0.0005, docs=60, vecs=40, batches=3)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        values = list(range(1, 1001))  # 1000 samples
        self.assertEqual(stats.tail(values), (99.0, 990, 10))
        self.assertEqual(stats.tail(values[:999])[0], 95.0)  # p99 would leave 9
        self.assertEqual(stats.tail(values[:200]), (95.0, 190, 10))
        self.assertEqual(stats.tail(values[:100]), (90.0, 90, 10))
        self.assertEqual(stats.tail(values[:40]), (75.0, 30, 10))

    def test_few_samples_fall_back_to_the_median(self):
        p, v, beyond = stats.tail([5.0, 1.0, 3.0])
        self.assertEqual((p, v, beyond), (50.0, 3.0, 1))

    def test_order_does_not_matter(self):
        self.assertEqual(stats.tail(list(range(300, 0, -1))), stats.tail(list(range(1, 301))))


class SummaryTest(unittest.TestCase):
    def test_pass_cost_and_typical_operation_from_per_kind_cpu_medians(self):
        # three passes of two kinds; the first pass is slow in both
        samples = [("a", 3.0), ("b", 9.0), ("a", 1.0), ("b", 4.0), ("a", 1.2), ("b", 3.8)]
        raw = {"samples": [{"op": k, "s": 2 * v, "cpu_s": v} for k, v in samples],
               "passes": [24.0, 10.0, 10.0], "setup_s": [9.0, 2.0, 2.2], "peak_rss_mb": 1600.0}
        m = run.end_to_end(raw, "query_mix")
        self.assertAlmostEqual(m["pass_cpu_s"][0], 1.2 + 4.0)
        self.assertAlmostEqual(m["op_cpu_s"][0], (1.2 * 4.0) ** 0.5)
        self.assertEqual(m["setup_s"], (2.2, "s"))
        self.assertEqual(m["peak_rss_mb"], (1600.0, "MB"))

    def test_metrics_match_the_benchmark_file(self):
        import json
        with open(os.path.join(os.path.dirname(run.__file__), "..", "BENCHMARK.json")) as f:
            spec = json.load(f)
        raw = {"samples": [{"op": "a", "s": 1.0, "cpu_s": 1.0}], "passes": [1.0], "setup_s": [1.0],
               "peak_rss_mb": 1.0}
        self.assertEqual(sorted(run.end_to_end(raw, "query_mix")),
                         sorted(m["name"] for m in spec["end_to_end"]))
        for m in spec["end_to_end"] + spec["per_layer"]:
            self.assertTrue(stats.valid_name(m["name"]), m["name"])
        for m in spec["per_layer"]:
            self.assertEqual(run.unit_of(m["name"]), m["unit"], m["name"])


class NameTest(unittest.TestCase):
    def test_charset(self):
        for ok in ("setup_s", "spark.task_skew", "op_p50_s", "a-b.c_9", "9x"):
            self.assertTrue(stats.valid_name(ok), ok)
        for bad in ("", "_x", ".x", "has space", "per/sec", "x" * 65, "é"):
            self.assertFalse(stats.valid_name(bad), bad)
        self.assertTrue(stats.valid_unit("1/s"))
        self.assertFalse(stats.valid_unit("per second"))

    def test_result_line_rejects_bad_names_and_values(self):
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"bad name": (1.0, "s")})
        with self.assertRaises(ValueError):
            stats.result_line(True, 1, 0, {"x_s": (float("nan"), "s")})
        line = stats.result_line(True, 3, 0, {"x_s": (1.5, "s")})
        self.assertEqual(line, {"correct": True, "attempted": 3, "failed": 0,
                                "metrics": {"x_s": {"value": 1.5, "unit": "s"}}})


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        a, b, c = (os.path.join(self.tmp, x) for x in "abc")
        gen.write(a, 7, **SMALL)
        gen.write(b, 7, **SMALL)
        gen.write(c, 8, **SMALL)
        self.assertEqual(gen.digest(a), gen.digest(b))
        self.assertNotEqual(gen.digest(a), gen.digest(c))
        for n in os.listdir(a):
            with open(os.path.join(a, n), "rb") as fa, open(os.path.join(b, n), "rb") as fb:
                self.assertEqual(fa.read(), fb.read(), n)


class CorruptedOutputTest(unittest.TestCase):
    """A wrong output must be caught, named and counted as failed."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.data = os.path.join(self.tmp, "data")
        self.dump = os.path.join(self.tmp, "dump")
        gen.write(self.data, 3, **SMALL)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, name, sql):
        os.makedirs(os.path.join(self.dump, name))
        con = duckdb.connect()
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        con.execute(f"COPY ({sql}) TO '{self.dump}/{name}/part-0.parquet' (FORMAT parquet)")

    def test_query_output(self):
        oracle = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
        self.write("good", oracle)
        self.write("bad", "SELECT r_regionkey, CASE WHEN r_regionkey = 2 THEN 'X' "
                          "ELSE r_name END AS r_name FROM region ORDER BY r_regionkey")
        self.write("empty", "SELECT * FROM region WHERE false")
        n, problems = check.check_queries(self.data, self.dump, ["good", "bad", "empty"],
                                          {"good": oracle, "bad": oracle}, set())
        self.assertEqual(n, 3)
        self.assertEqual([p[0] for p in problems], ["bad", "empty"])
        self.assertIn("row 2", problems[0][1])
        line = stats.result_line(not problems, n, len(problems), {"x_s": (1.0, "s")})
        self.assertFalse(line["correct"])
        self.assertEqual(line["failed"], 2)

    def test_store_state(self):
        rounds = 2
        con = duckdb.connect()
        ids = sorted(check.expected_dedup(con, self.data, rounds))
        self.write("dedup_corpus", f"SELECT unnest({ids[1:]}) AS doc_id")  # one id lost
        cdc = check.expected_cdc(con, self.data, rounds)
        self.write("cdc", "SELECT * FROM (VALUES " + ", ".join(
            f"({k}, CAST({p!r} AS DOUBLE), '{s}')" for k, p, s in cdc) +
            ") t(o_orderkey, o_totalprice, o_orderstatus)")
        self.write("ann_store", "SELECT 1 AS qid, 2 AS vec_id, 1 AS rnk")
        self.write("ann_inline", "SELECT 1 AS qid, 3 AS vec_id, 1 AS rnk")
        n, problems = check.check_stores(self.data, self.dump, rounds)
        self.assertEqual(n, 3)
        self.assertEqual(sorted(p[0] for p in problems), ["ann_store", "dedup_store"])

    def test_expected_dedup_drops_resent_texts(self):
        con = duckdb.connect()
        base = {r[0] for r in con.execute(
            f"SELECT doc_id FROM '{self.data}/documents.parquet'").fetchall()}
        kept = check.expected_dedup(con, self.data, 1) - base
        # batch 0: 20 fresh texts survive; re-sent corpus texts and the
        # in-batch repeats (ids +200..) do not
        self.assertEqual(len(kept), 20)
        self.assertTrue(all(10_000_100 <= d < 10_000_120 for d in kept))


if __name__ == "__main__":
    unittest.main()
