"""Self-tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import shoplogs  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, da = shoplogs.generate_events(11, 3000)
        b, db = shoplogs.generate_events(11, 3000)
        self.assertEqual(a, b)
        self.assertEqual(da, db)
        self.assertEqual(shoplogs.generate_categories(11), shoplogs.generate_categories(11))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(shoplogs.generate_events(11, 500)[0], shoplogs.generate_events(12, 500)[0])

    def test_written_dataset_is_deterministic(self):
        with tempfile.TemporaryDirectory() as d:
            m1 = shoplogs.write_dataset(3, 800, f"{d}/a")
            m2 = shoplogs.write_dataset(3, 800, f"{d}/b")
            self.assertEqual(m1, m2)
            for rel in ("logs/part-00000.parquet", "categories/part-00000.parquet", "expected.parquet"):
                with open(f"{d}/a/{rel}", "rb") as x, open(f"{d}/b/{rel}", "rb") as y:
                    self.assertEqual(x.read(), y.read(), rel)

    def test_covers_the_input_properties(self):
        events, dups = shoplogs.generate_events(5, 20000)
        sites = {e["info"]["siteseq"] for e in events}
        self.assertEqual(sites, set(shoplogs.SITES) | {shoplogs.UNCONFIGURED_SITE})
        self.assertEqual({e["logtype"] for e in events}, {"login", "purchase", "cart", "view"})
        null_share = sum(e["userid"] is None for e in events) / len(events)
        self.assertAlmostEqual(null_share, shoplogs.NULL_USERID, delta=0.02)
        self.assertTrue(any(e["timestamp"].endswith(".000Z") or len(e["timestamp"]) == 24 for e in events))
        self.assertTrue(any(len(e["timestamp"]) == 20 for e in events))
        self.assertTrue(any(", " in e["custom"] for e in events))
        self.assertTrue(any('\\"' in e["custom"] for e in events))
        self.assertTrue(any("og:url" in e["custom"] for e in events))
        self.assertGreater(dups, 0)
        keys = [tuple(sorted(e.items(), key=lambda kv: kv[0])).__repr__() for e in events]
        self.assertGreater(len(keys) - len(set(keys)), 0)
        cats = shoplogs.generate_categories(5)
        coverage = len(cats) / ((len(shoplogs.SITES) + 1) * shoplogs.PRODUCTS_PER_SITE)
        self.assertAlmostEqual(coverage, shoplogs.CATEGORY_COVERAGE, delta=0.05)

    def test_reference_quirks(self):
        # the comma scrub also eats the character before the comma
        self.assertEqual(shoplogs.COMMA.sub("", "Shirt, size 3"), "Shir size 3")
        self.assertEqual(shoplogs.COMMA.sub("", '["a","b"]'), '["a","b"]')
        # UTC -> KST, millis dropped
        self.assertEqual(shoplogs.kst_date_time("2019-06-01T20:43:09.987Z"), ["2019-06-02", "05:43:09"])
        # type2 view: the code is the og:url's last segment
        custom = '{"og:url": "https://x/155138/goods/view/155138-p7", "og:title": "t"}'
        self.assertEqual(shoplogs._products(custom, "og:url", "og:title", True), [("155138-p7", "t")])
        # more names than codes: zip pads the codes with null
        custom = '{"productCode": ["p1"], "productName": ["a", "b"]}'
        self.assertEqual(shoplogs._products(custom, "productCode", "productName", False),
                         [("p1", "a"), (None, "b")])

    def test_expected_output_joins_and_pads_logins(self):
        cats = [{k: f"{k}-1" for k in shoplogs.CATEGORY_COLUMNS} | {"SHOPPING_ID": "4550", "ITEM_CODE": "c1"}]
        login = {"custom": '{"productCode": ["c1", "c2"], "productName": ["n1", "n2"]}',
                 "info": {"siteseq": "4550"}, "logtype": "login", "maid": "m",
                 "timestamp": "2019-06-01T01:43:09Z", "userid": None}
        out, attempted = shoplogs.expected_output([login, dict(login)], cats)
        self.assertEqual(attempted, 6)  # 2 events x (1 joined + 2 login rows)
        self.assertEqual(len(out), 2)
        self.assertIn(("m", "4550", "2019-06-01", "10:43:09", "login") + (None,) * 11, out)


class MetricsTest(unittest.TestCase):
    def test_tail_percentile_rule(self):
        xs = list(range(1, 27))                      # 26 samples
        self.assertEqual(metrics.tail(xs), (16, 61, 26))  # 10 samples beyond 16
        self.assertEqual(metrics.tail(list(range(100))), (89, 90, 100))
        self.assertEqual(metrics.tail(list(range(11))), (0, 9, 11))
        self.assertEqual(metrics.tail([3.0, 1.0]), (3.0, 100, 2))
        self.assertEqual(metrics.tail([]), (0.0, 0, 0))

    def test_covered(self):
        self.assertEqual(metrics.covered([(1, 3), (2, 5), (7, 8)], 0, 10), 5)
        self.assertEqual(metrics.covered([(-5, 2), (9, 20)], 0, 10), 3)
        self.assertEqual(metrics.covered([], 0, 10), 0)

    def test_self_time(self):
        spans = [
            {"id": 0, "parent": -1, "kind": "op", "group": "g", "t0": 0, "t1": 10},
            {"id": 1, "parent": 0, "kind": "build", "group": "g", "t0": 0, "t1": 4},
            {"id": 2, "parent": 0, "kind": "action", "group": "g", "t0": 5, "t1": 9},
        ]
        jobs = [
            {"group": "g", "submit": 1, "end": 3},    # inside build
            {"group": "g", "submit": 6, "end": 8},    # inside action
            {"group": "g", "submit": 7, "end": 9.5},  # overlaps the first; outlives the action
            {"group": "h", "submit": 2, "end": 3},    # another op's job
        ]
        got = metrics.self_times(spans, jobs)
        self.assertEqual(got["op"], 2)       # 10 - (4 + 4)
        self.assertEqual(got["build"], 2)    # 4 - 2
        self.assertEqual(got["action"], 1)   # 4 - (6..9 covered = 3)
        self.assertEqual(got["job"], 2 + 2 + 2.5 + 1)

    def test_module_attribution(self):
        tables = ("org.apache.spark.sql.classic.DataFrameReader.parquet(DataFrameReader.scala:9)\n"
                  "graft.Tables$.table(Tables.scala:15)\n"
                  "graft.ops.Relational$.$anonfun$q1$1(Relational.scala:40)\n"
                  "perfbench.Run.queryOp(Harness.scala:3)")
        self.assertEqual(metrics.module_of(tables), "tables")
        kernel = ("org.apache.spark.sql.graftext.GraftKernels$.run(GraftKernels.scala:1)\n"
                  "graft.sim.Similarity$.kmeans(Similarity.scala:2)")
        self.assertEqual(metrics.module_of(kernel), "graftext")
        self.assertEqual(metrics.module_of("org.apache.spark.rdd.RDD.count(RDD.scala:1)\n"
                                           "graft.etl.Sinks$.parquetAppend(Io.scala:88)"), "etl")
        self.assertEqual(metrics.module_of("x.Y.z(Y.scala:1)\ngraft.streaming.S$.f(S.scala:1)"), "other")
        harness = ("org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
                   "perfbench.Run.queryOp(Harness.scala:3)\ngraft.ops.X$.f(X.scala:1)")
        self.assertEqual(metrics.module_of(harness), "bench.action")
        pool = "org.apache.spark.sql.execution.SQLExecution$.x(SQLExecution.scala:329)\njava.lang.Thread.run"
        self.assertIsNone(metrics.module_of(pool))
        self.assertEqual(metrics.job_module({"details": pool, "exec_details": tables}), "tables")
        self.assertEqual(metrics.job_module({"details": pool, "exec_details": ""}), "other")


if __name__ == "__main__":
    unittest.main()
