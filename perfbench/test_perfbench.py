"""Self-tests of the benchmark's own logic (no JVM, no Spark):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import oracle  # noqa: E402
import stats  # noqa: E402
import workload  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond(self):
        small = stats.percentile(range(1, 101), 95)
        self.assertEqual(small["n"], 100)
        self.assertEqual(small["beyond"], 5)
        self.assertFalse(small["valid"])
        big = stats.percentile(range(1, 301), 95)
        self.assertEqual(big["n"], 300)
        self.assertGreaterEqual(big["beyond"], 10)
        self.assertTrue(big["valid"])

    def test_median_interpolates(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4], 50)["value"], 2.5)
        self.assertEqual(stats.percentile([5], 50)["value"], 5)
        self.assertEqual(stats.percentile([], 50)["n"], 0)


class Generator(unittest.TestCase):
    def test_same_seed_same_plan(self):
        self.assertEqual(workload.plan("serve-churn", 7, 4, 15),
                         workload.plan("serve-churn", 7, 4, 15))

    def test_other_seed_other_texts_same_mix(self):
        a = workload.plan("serve-churn", 7, 4, 15)
        b = workload.plan("serve-churn", 8, 4, 15)
        self.assertNotEqual([o["sql"] for o in a["ops"]], [o["sql"] for o in b["ops"]])
        n = len(workload.TEMPLATE_NAMES)
        self.assertEqual(len(workload.plan("serve-churn", 7, 4, 10)["ops"]), 3 * n)
        self.assertEqual(len(workload.plan("serve-churn", 7, 4, 1)["ops"]), 3 * n)
        for p in (workload.plan("serve-churn", 7, 4, 40), workload.plan("serve-churn", 8, 4, 40)):
            for start in (0, 4 * n):
                ops = p["ops"][start:start + 4 * n]
                for b_ in range(4):
                    self.assertEqual(sorted(o["tpl"] for o in ops[b_ * n:(b_ + 1) * n]),
                                     sorted(workload.TEMPLATE_NAMES))
                combos = {(o["tpl"], o["kind"], o["hot"]) for o in ops}
                self.assertEqual(len(combos), 4 * n)  # every template, path and text kind
                self.assertEqual(sum(o["enc"] == "arrow" for o in ops), 4)
                self.assertTrue(all(o["kind"] == "sync" for o in ops if o["enc"] == "arrow"))

    def test_fresh_texts_are_never_repeated(self):
        p = workload.plan("serve-churn", 3, 4, 15)
        self.assertEqual(len(p["warmups"]), workload.SETUPS)
        lists = p["ops"] + sum(p["warmups"], []) + p["traced"]
        fresh = [o["sql"] for o in lists if not o["hot"]]
        self.assertEqual(len(fresh), len(set(fresh)))
        hot = {(o["sql"], o["user"]) for o in p["ops"] if o["hot"]}
        self.assertEqual(len(hot), len(workload.TEMPLATE_NAMES))

    def test_traced_run_resends_the_same_texts(self):
        p = workload.plan("serve-churn", 3, 4, 15)
        same = lambda k: [(o["tpl"], o["kind"], o["sql"], o["user"], o["enc"]) for o in p[k]]
        self.assertEqual(same("untraced"), same("traced"))
        self.assertEqual(same("retraced"), same("traced"))
        ids = [o["id"] for k in ("traced", "untraced", "retraced") for o in p[k]]
        self.assertEqual(len(ids), len(set(ids)))
        self.assertEqual({o["tpl"] for o in p["traced"]}, set(workload.TEMPLATE_NAMES))
        self.assertEqual({o["kind"] for o in p["traced"]}, {"sync", "async"})

    def test_suite_ignores_seed(self):
        p = workload.plan("suite-batch", 1, 4, 15, ["b", "a"])
        self.assertEqual(p, workload.plan("suite-batch", 2, 4, 15, ["a", "b"]))
        self.assertEqual((p["suite"], p["passes"], p["setups"]), (["a", "b"], 3, workload.SETUPS))


class Oracle(unittest.TestCase):
    """A tiny synthetic data set in the raw layout the oracle reads."""

    @classmethod
    def setUpClass(cls):
        base = os.path.join(BENCH, ".work")
        os.makedirs(base, exist_ok=True)
        cls.dir = tempfile.mkdtemp(dir=base)
        import datetime
        d = datetime.datetime(1995, 1, 1)
        tables = {
            "lineitem": dict(l_orderkey=[1, 2, 3, 4, 5, 6], l_partkey=[1] * 6,
                             l_suppkey=[7] * 6, l_linenumber=pa.array([1] * 6, pa.int32()),
                             l_quantity=[1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
                             l_extendedprice=[10.0] * 6, l_discount=[0.1] * 6,
                             l_tax=[0.2] * 6, l_returnflag=["N", "R", "N", "A", "N", "N"],
                             l_linestatus=["O"] * 6, l_shipdate=[d] * 6),
            "orders": dict(o_orderkey=[1], o_custkey=[1], o_orderstatus=["O"],
                           o_totalprice=[1.0], o_orderdate=[d], o_orderpriority=["1-URGENT"]),
            "customer": dict(c_custkey=[1], c_name=["c"],
                             c_nationkey=pa.array([1], pa.int32()), c_acctbal=[1.0],
                             c_mktsegment=["m"]),
            "documents": dict(doc_id=[1, 2], text=["a", "b"], lang=["en", "zh"],
                              source=["s", "t"], n_chars=[1, 1]),
            "events": dict(event_id=[1], ts=[d], user_id=[1], event_type=["click"],
                           value=[1.0], props=['{"k": 3}']),
        }
        for t in oracle.RAW:
            cols = tables.get(t, dict(x=[1]))
            pq.write_table(pa.table(cols), os.path.join(cls.dir, f"{t}.parquet"))
        cls.con = oracle.connect(cls.dir)

    @classmethod
    def tearDownClass(cls):
        cls.con.close()
        shutil.rmtree(cls.dir, ignore_errors=True)

    SQL = "SELECT orderkey, quantity FROM lineitem ORDER BY orderkey"

    def test_acl_views(self):
        admin = oracle.expected(self.con, "sync", "lineitem", self.SQL, "admin")
        default = oracle.expected(self.con, "sync", "lineitem", self.SQL, "mallory")
        self.assertEqual(admin.num_rows, 6)
        self.assertEqual(default.column("orderkey").to_pylist(), [1, 3, 5, 6])
        docs = oracle.expected(self.con, "sync", "documents",
                               "SELECT doc_id, source FROM documents", None)
        self.assertEqual(docs.to_pylist(), [{"doc_id": 1, "source": None}])

    def test_async_answers_are_per_branch(self):
        t = oracle.expected(self.con, "async", "lineitem",
                            "SELECT count(*) AS n FROM lineitem", "admin")
        self.assertEqual(sorted(t.column("_source_relay_").to_pylist()),
                         ["apac", "emea", "na_us"])
        self.assertEqual(sum(t.column("n").to_pylist()), 6)

    def test_flags_a_corrupted_answer(self):
        exp = oracle.expected(self.con, "sync", "lineitem", self.SQL, "admin")
        self.assertIsNone(oracle.compare(exp, exp, ordered=True))
        q = exp.column("quantity").to_pylist()
        q[3] += 1.0
        bad = exp.set_column(1, "quantity", pa.array(q))
        self.assertIn("quantity", oracle.compare(bad, exp, ordered=True))
        self.assertIn("rows", oracle.compare(exp.slice(1), exp, ordered=True))
        # last-bit float noise from a different summation order passes
        noisy = exp.set_column(1, "quantity",
                               pa.array([v * (1 + 1e-13) for v in exp.column(1).to_pylist()]))
        self.assertIsNone(oracle.compare(noisy, exp, ordered=True))

    def test_unordered_compare_is_a_multiset(self):
        exp = oracle.expected(self.con, "sync", "lineitem", self.SQL, "admin")
        rev = exp.take(list(reversed(range(exp.num_rows))))
        self.assertIsNotNone(oracle.compare(rev, exp, ordered=True))
        self.assertIsNone(oracle.compare(rev, exp, ordered=False))


class SelfTime(unittest.TestCase):
    def test_children_overlap_is_counted_once(self):
        spans = [
            dict(id=1, parent=0, op=1, name="op", start_ms=0.0, end_ms=10.0),
            dict(id=2, parent=1, op=1, name="mesh.resolve_local", start_ms=1.0, end_ms=3.0),
            dict(id=3, parent=1, op=1, name="spark.analyze", start_ms=2.0, end_ms=5.0),
            dict(id=4, parent=1, op=1, name="spark.execute", start_ms=7.0, end_ms=8.0),
            dict(id=5, parent=4, op=1, name="transport.encode", start_ms=7.5, end_ms=9.0),
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 4.0 - 1.0)  # [1,5] and [7,8] covered
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[4], 0.5)  # child clipped to the parent
        m = stats.per_layer(spans, [], [1], ["self.spark_ms", "self.mesh_ms"])
        self.assertAlmostEqual(m["self.spark_ms"], 3.0 + 0.5)
        self.assertAlmostEqual(m["self.mesh_ms"], 2.0)

    def test_summariser_gives_every_per_layer_metric(self):
        with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
            names = [m["name"] for m in json.load(f)["per_layer"]]
        m = stats.per_layer([], [], [], names)
        self.assertEqual(set(m), {n for n in names if not n.startswith("trace.")})


if __name__ == "__main__":
    unittest.main()
