"""Self-tests of the benchmark harness.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        value, pct, n = metrics.tail([float(i) for i in range(1, 101)])
        self.assertEqual((value, pct, n), (90.0, 90.0, 100))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(metrics.tail([5.0] * 3 + [1.0] * 9 + [9.0])[0], 1.0)

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([1.0] * 10)


class FailRate(unittest.TestCase):
    """A planted throwing query and a planted wrong-answer query both count."""

    class _DuckOracle:
        def answer(self, sql):
            import duckdb
            return oracle.digest(oracle.canon(duckdb.sql(sql).df()))

    def test_planted_failures_count(self):
        import pandas as pd
        with tempfile.TemporaryDirectory() as d:
            pd.DataFrame({"x": [1, 2], "y": ["a", "b"]}).to_parquet(os.path.join(d, "good"))
            pd.DataFrame({"x": [1, 3], "y": ["a", "b"]}).to_parquet(os.path.join(d, "wrong"))
            sql = "SELECT * FROM (VALUES (2, 'b'), (1, 'a')) t(x, y)"
            verdicts = oracle.check(
                d, {"good": "", "wrong": "", "throws": "java.lang.IllegalStateException: planted"},
                {"good": sql, "wrong": sql, "throws": sql}, self._DuckOracle())
        self.assertIsNone(verdicts["good"])
        self.assertIn("differs", verdicts["wrong"])
        self.assertIn("planted", verdicts["throws"])
        runs = [{"query": q, "ok": q != "throws"} for q in ("good", "wrong", "throws") for _ in range(2)]
        self.assertEqual(metrics.fail_counts(runs, verdicts), (6, 4))

    def test_column_order_and_row_order_are_ignored(self):
        import pandas as pd
        a = pd.DataFrame({"x": [1, 2], "y": [0.5, 1.5]})
        b = pd.DataFrame({"y": [1.5, 0.5], "x": [2, 1]})
        self.assertEqual(oracle.canon(a), oracle.canon(b))


class ModuleAttribution(unittest.TestCase):
    SITE = "\n".join([
        "org.apache.spark.sql.Dataset.collect(Dataset.scala:3456)",
        "graft.core.Tables$.spread(Tables.scala:88)",
        "graft.ops.Dedup$.$anonfun$defs$3(Dedup.scala:120)",
        "graft.SparkEntry$.$anonfun$queries$1(SparkEntry.scala:48)",
        "perfbench.Runner$Client.runQuery(Runner.scala:120)",
    ])

    def test_innermost_engine_frame_wins(self):
        self.assertEqual(metrics.module_of(self.SITE), "core.Tables")

    def test_no_engine_frame(self):
        self.assertIsNone(metrics.module_of("perfbench.Runner$Client.runQuery(Runner.scala:125)"))
        self.assertEqual(metrics.module_of("graft.SparkEntry$.entry(SparkEntry.scala:1)"), "other")


class SelfTime(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        self.assertAlmostEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (8, 12), (20, 30)]), 4)


class SeededInputs(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.dirs = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            cls.dirs[name] = os.path.join(cls.tmp.name, name)
            inputs.write_inputs(cls.dirs[name], seed)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _bytes(self, name, table):
        with open(os.path.join(self.dirs[name], f"{table}.parquet"), "rb") as f:
            return f.read()

    def test_same_seed_same_bytes(self):
        for t in inputs.TABLES:
            self.assertEqual(self._bytes("a", t), self._bytes("b", t), t)

    def test_other_seed_permutes_the_same_rows(self):
        import pyarrow.parquet as pq
        self.assertEqual(inputs.fingerprint(self.dirs["a"]), inputs.fingerprint(self.dirs["c"]))
        self.assertEqual(inputs.fingerprint(self.dirs["a"]), inputs.fingerprint(inputs.SHIPPED))
        for t in ("lineitem", "documents", "events"):
            a = pq.read_table(os.path.join(self.dirs["a"], f"{t}.parquet"))
            c = pq.read_table(os.path.join(self.dirs["c"], f"{t}.parquet"))
            self.assertNotEqual(a.column(0).to_pylist(), c.column(0).to_pylist(), t)

    def test_layout_matches_the_shipped_one(self):
        inputs.check_layout(self.dirs["a"])

    def test_layout_check_fails_on_a_changed_table(self):
        import pyarrow.parquet as pq
        d = os.path.join(self.tmp.name, "changed")
        inputs.write_inputs(d, 7)
        t = pq.read_table(os.path.join(d, "orders.parquet"))
        pq.write_table(t, os.path.join(d, "orders.parquet"), row_group_size=t.num_rows // 2)
        with self.assertRaises(ValueError):
            inputs.check_layout(d)


class Declarations(unittest.TestCase):
    """BENCHMARK.json, spec.json and metrics.py name the same metrics."""

    def setUp(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        with open(os.path.join(BENCH, "spec.json")) as f:
            self.spec = json.load(f)

    def test_metrics_match(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["per_layer"]},
                         metrics.PER_LAYER)

    def test_every_layer_metric_has_a_prediction(self):
        covered = [m for layer in self.spec["layers"] for m in layer["metrics"]]
        self.assertEqual(sorted(covered), sorted(metrics.PER_LAYER))

    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in self.bench["workloads"]], list(self.spec["workloads"]))


if __name__ == "__main__":
    unittest.main()
