"""Self-tests of the benchmark's own logic; no Spark needed.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

BENCHMARK = os.path.join(HERE, "..", "..", "BENCHMARK.json")
TOPK_SQL = """
    SELECT o_custkey, CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_custkey ORDER BY revenue DESC, o_custkey LIMIT 10"""


def stage(sid, start, end, tasks=(10,)):
    return {"stage": sid, "attempt": 0, "submit_ms": start, "complete_ms": end,
            "tasks": len(tasks), "shuffle_write_bytes": 100, "spill_bytes": 0,
            "gc_ms": 5, "cpu_ns": 1e6, "task_ms": list(tasks)}


def traced_record():
    """One traced op: a span of 1000 ms whose three stages overlap, with a
    child span of 200 ms after them, and one untraced op."""
    return {
        "spans": [
            {"id": 1, "parent": 0, "op": 0, "name": "tuner.Tuner.overhead",
             "start_ms": 0.0, "end_ms": 1000.0},
            {"id": 2, "parent": 1, "op": 0, "name": "dedup.nearDuplicates",
             "start_ms": 750.0, "end_ms": 950.0},
        ],
        "jobs": [{"job": 0, "span": 1, "stages": [0, 1]},
                 {"job": 1, "span": 1, "stages": [1, 2]},
                 {"job": 2, "span": 2, "stages": [3]}],
        "stages": [stage(0, 100, 400), stage(1, 300, 600), stage(2, 650, 700),
                   stage(3, 760, 900, tasks=(10, 10, 40))],
        "ops": [{"n": 0, "kind": "tuner", "latency_s": 1.1, "traced": True,
                 "input_rows": 10},
                {"n": 1, "kind": "tuner", "latency_s": 1.0, "traced": False,
                 "input_rows": 10}],
        "cpu": {"start": {"host_busy": 0, "steal": 0, "self": 0},
                "end": {"host_busy": 300, "steal": 0, "self": 200}},
        "wall_s": 2.0, "peak_rss_kb": 1024 * 1000,
        "counters": {"dedup.candidate_pairs": 10, "dedup.pairs_kept": 4},
    }


class DriverGap(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertEqual(metrics.union_ms([(100, 400), (300, 600), (650, 700)]), 550)
        self.assertEqual(metrics.union_ms([(0, 10), (2, 5), (20, 20)]), 10)
        self.assertEqual(metrics.union_ms([]), 0)

    def test_gap_uses_union_of_own_stages(self):
        stats = {s["name"]: s for s in metrics.span_stats(traced_record())}
        outer = stats["tuner.Tuner.overhead"]
        # self time: 1000 ms minus the 200 ms child; own stages cover
        # 100-600 and 650-700 = 550 ms; a plain sum would count 650 ms.
        self.assertAlmostEqual(outer["self_s"], 0.8)
        self.assertAlmostEqual(outer["driver_gap_s"], 0.25)
        self.assertEqual((outer["jobs"], outer["stages"]), (2, 3))
        inner = stats["dedup.nearDuplicates"]
        self.assertAlmostEqual(inner["driver_gap_s"], 0.06)
        self.assertEqual(inner["stages"], 1)


class Aggregates(unittest.TestCase):
    def test_tail(self):
        self.assertEqual(metrics.tail([3.0]), (3.0, 90.0, 1))
        value, pct, n = metrics.tail([3, 1, 2])
        self.assertEqual((pct, n), (90.0, 3))
        self.assertAlmostEqual(value, 2.8)
        value, _, n = metrics.tail(list(range(15)))
        self.assertAlmostEqual(value, 12.6)
        self.assertEqual(n, 15)

    def test_overhead_pairs_ops_in_the_same_tuner_state(self):
        def op(lat, traced, state):
            return {"kind": "fit", "latency_s": lat, "traced": traced, "state": state}
        ops = [op(2.0, True, "4/1"), op(1.0, False, "8/1"), op(1.6, False, "4/1"),
               op(1.2, True, "8/1")]
        value, groups = metrics.trace_overhead(ops)
        self.assertEqual(groups, 2)
        self.assertAlmostEqual(value, (2.0 / 1.6 + 1.2 / 1.0) / 2 - 1)
        self.assertEqual(metrics.trace_overhead(ops[:2]), (0.0, 0))

    def test_skew_and_overhead(self):
        r = traced_record()
        self.assertEqual(metrics.task_skew(r["stages"]), 4.0)
        value, groups = metrics.trace_overhead(r["ops"])
        self.assertAlmostEqual(value, 0.1)
        self.assertEqual(groups, 1)
        self.assertAlmostEqual(metrics.non_self_cpu(r, 100), 0.5)


class Declared(unittest.TestCase):
    def setUp(self):
        with open(BENCHMARK) as f:
            self.bench = json.load(f)

    def test_every_printed_name_is_declared(self):
        r = traced_record()
        e2e, _ = metrics.end_to_end(r, [True, True], setup_s=1.0)
        layer = metrics.per_layer(r, 100)
        declared_e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        declared_layer = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        self.assertEqual({k: v["unit"] for k, v in e2e.items()}, declared_e2e)
        self.assertEqual({k: v["unit"] for k, v in layer.items()}, declared_layer)
        self.assertAlmostEqual(layer["dedup.rerank_yield"]["value"], 0.4)
        better = {m["name"]: m["better"] for m in self.bench["end_to_end"]}
        self.assertEqual(better, {k: b for k, (_, b) in metrics.END_TO_END.items()})

    def test_workloads_are_the_runnable_ones(self):
        import run
        self.assertEqual([w["name"] for w in self.bench["workloads"]], run.WORKLOADS)


class Checks(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.data = os.path.join(cls.tmp.name, "data")
        gen.generate(cls.data, seed=5, files=2)
        cls.con = oracle.connect(cls.data)
        rel = cls.con.execute(TOPK_SQL)
        cls.result = {"columns": [d[0] for d in rel.description],
                      "rows": [list(r) for r in rel.fetchall()]}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_right_answer_passes(self):
        self.assertEqual(oracle.compare(self.con, self.result, TOPK_SQL), (True, "match"))

    def test_planted_wrong_output_fails(self):
        wrong = json.loads(json.dumps(self.result))
        wrong["rows"][3][1] += 0.01
        self.assertFalse(oracle.compare(self.con, wrong, TOPK_SQL)[0])
        short = dict(self.result, rows=self.result["rows"][:-1])
        self.assertFalse(oracle.compare(self.con, short, TOPK_SQL)[0])
        renamed = dict(self.result, columns=["o_custkey", "rev"])
        self.assertFalse(oracle.compare(self.con, renamed, TOPK_SQL)[0])

    def test_wrong_answer_fails_its_ops(self):
        def record(first):
            return {"oracle": {"q18_topk": TOPK_SQL}, "firsts": {"q18_topk": first},
                    "warmup": [{"kind": "q18_topk", "result": {"digest": "a"}}],
                    "ops": [{"kind": "q18_topk", "result": {"digest": d}}
                            for d in ("a", "b", "a")]}
        ok, _ = oracle.verify("analytics", record(self.result), self.data)
        self.assertEqual(ok, [True, False, True])
        wrong = json.loads(json.dumps(self.result))
        wrong["rows"][0][0] += 1
        ok, notes = oracle.verify("analytics", record(wrong), self.data)
        self.assertEqual(ok, [False, False, False])
        self.assertIn("rows differ", notes["oracle.q18_topk"])

    def test_components_reference(self):
        self.assertTrue(oracle.components_ok([(1, 2), (2, 3), (7, 9)],
                                             [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)]))
        self.assertFalse(oracle.components_ok([(1, 2), (2, 3)],
                                              [(1, 1), (2, 1), (3, 2)]))

    def test_brute_force_top_k(self):
        import numpy as np
        ids = np.array([10, 11, 12, 13])
        emb = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]])
        self.assertEqual(oracle.brute_topk(ids, emb, [10], k=1), {(10, 11)})
        self.assertEqual(oracle.recall({(1, 2), (1, 3)}, {(1, 2)}), 0.5)


class Generator(unittest.TestCase):
    def test_seeded_and_split(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(f"{d}/a", seed=3, files=4)
            gen.generate(f"{d}/b", seed=3, files=4)
            gen.generate(f"{d}/c", seed=4, files=4)
            self.assertEqual(a["rows"]["documents"], gen.SIZES["documents"])
            for t in ["lineitem", "documents", "embeddings"]:
                files = sorted(os.listdir(f"{d}/a/{t}.parquet"))
                self.assertEqual(len(files), 4)
                self.assertEqual(pq.read_table(f"{d}/a/{t}.parquet/{files[0]}"),
                                 pq.read_table(f"{d}/b/{t}.parquet/{files[0]}"))
            docs = lambda x: pq.read_table(f"{d}/{x}/documents.parquet").column("text")
            self.assertNotEqual(docs("a"), docs("c"))
            text = docs("a").to_pylist()
            # planted exact duplicates
            self.assertLess(len(set(text)), len(text))


if __name__ == "__main__":
    unittest.main()
