"""The benchmark's own tests; no JVM needed.

    python3 graftbench/selftest.py
"""
import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        p = os.path.join(d, f)
        if os.path.isdir(p):
            h.update(digest(p).encode())
        else:
            with open(p, "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


class Generators(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def check(self, make):
        make(1, f"{self.tmp}/a")
        make(1, f"{self.tmp}/b")
        make(2, f"{self.tmp}/c")
        self.assertEqual(digest(f"{self.tmp}/a"), digest(f"{self.tmp}/b"))
        self.assertNotEqual(digest(f"{self.tmp}/a"), digest(f"{self.tmp}/c"))

    def test_star_schema(self):
        self.check(lambda s, d: gen.star_schema(s, d, 0.001))

    def test_cdc(self):
        self.check(lambda s, d: gen.cdc_inputs(s, d, rows=500, hot=50, batches=5, batch_rows=40))

    def test_corpus(self):
        self.check(lambda s, d: gen.corpus_inputs(s, d, base_docs=100, copies=2, batches=3,
                                                  batch_docs=20))

    def test_cdc_expectations_follow_the_log(self):
        d = f"{self.tmp}/x"
        gen.cdc_inputs(3, d, rows=500, hot=50, batches=5, batch_rows=40)
        import pyarrow.parquet as pq
        with open(f"{d}/expect.json") as f:
            e = json.load(f)
        live = set(range(500))
        log = pq.read_table(f"{d}/log.parquet").to_pydict()
        for b in range(5):
            last = {}
            for i in range(b * 40, (b + 1) * 40):
                last[log["o_orderkey"][i]] = log["op"][i]
            for k, o in last.items():
                (live.discard if o == gen.OP_DELETE else live.add)(k)
            self.assertEqual(e["live"][b + 1], len(live))
            self.assertEqual(e["live_hot"][b + 1], sum(1 for k in live if k < 50))


def span(i, parent, name, a, b, op=0):
    return {"id": i, "parent": parent, "op": op, "name": name, "start_ns": a, "end_ns": b}


class Arithmetic(unittest.TestCase):
    def test_percentile(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.percentile(xs, 50), 3)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertEqual(stats.percentile(list(range(1, 101)), 90), 90.1)
        self.assertEqual(stats.beyond(list(range(1, 101)), 90), 10)

    def test_self_time_tree(self):
        # op [0,100]: A [10,40] holds A1 [15,25]; B [50,90] holds a
        # tracker interval [60,70] that is placed by its midpoint
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "A", 10, 40),
                 span(2, 1, "A1", 15, 25), span(3, 0, "B", 50, 90),
                 span(4, -2, "planning", 60, 70)]
        st = {k: v * 1e9 for k, v in stats.self_times(spans, 0, 100).items()}
        self.assertAlmostEqual(st["A"], 20)
        self.assertAlmostEqual(st["A1"], 10)
        self.assertAlmostEqual(st["B"], 30)
        self.assertAlmostEqual(st["planning"], 10)
        self.assertAlmostEqual(st["other"], 30)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_self_time_clips_overlap(self):
        # ms-resolution tracker intervals can poke out of their parent
        # and overlap a sibling: clipped, the layers still sum to wall
        spans = [span(0, -1, "op", 0, 100), span(1, 0, "A", 0, 50),
                 span(2, 0, "A", 40, 80), span(3, -2, "p", 45, 60),
                 span(4, 1, "c", 30, 70)]
        st = {k: v * 1e9 for k, v in stats.self_times(spans, 0, 100).items()}
        self.assertAlmostEqual(sum(st.values()), 100)
        self.assertTrue(all(v >= 0 for v in st.values()))
        self.assertAlmostEqual(st["c"], 20)     # clipped to A's [0,50]

    def test_union(self):
        self.assertEqual(stats.union_ns([(0, 10), (5, 20), (30, 40)], 0, 100), 30)
        self.assertEqual(stats.union_ns([(0, 10), (5, 20), (30, 40)], 8, 35), 17)


class CorpusCheck(unittest.TestCase):
    """checks.corpus_dedup on a hand-built corpus: base docs 1-3 (2 a
    near-duplicate of 1), one batch holding 10, a near-duplicate of 3."""

    def setUp(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        self.tmp = tempfile.mkdtemp()
        self.pa, self.pq = pa, pq
        words = [f"w{i}" for i in range(40)]
        t1, t3 = " ".join(words), " ".join(w + "x" for w in words)
        t2, t10 = t1 + "z", t3 + "z"
        pq.write_table(pa.table({"doc_id": pa.array([1, 2, 3], pa.int64()),
                                 "text": [t1, t2, t3]}), f"{self.tmp}/base.parquet")
        pq.write_table(pa.table({"doc_id": pa.array([10], pa.int64()), "text": [t10],
                                 "batch": pa.array([0], pa.int32())}),
                       f"{self.tmp}/batches.parquet")
        with open(f"{self.tmp}/planted.json", "w") as f:
            json.dump([[10, 3]], f)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def outputs(self, labels, edges):
        pa, pq = self.pa, self.pq
        for name, cols in (("labels", {"doc_id": list(labels), "component": list(labels.values())}),
                           ("edges", {"d1": [a for a, _ in edges], "d2": [b for _, b in edges]})):
            os.makedirs(f"{self.tmp}/out/{name}", exist_ok=True)
            pq.write_table(pa.table({k: pa.array(v, pa.int64()) for k, v in cols.items()}),
                           f"{self.tmp}/out/{name}/part.parquet")
        return checks.corpus_dedup(self.tmp, f"{self.tmp}/out")

    def test_correct_outputs_pass(self):
        fails, recall, missed = self.outputs({1: 1, 2: 1, 3: 3, 10: 3}, [(10, 3)])
        self.assertEqual((fails, recall, missed), ([], 1.0, []))

    def test_missed_planted_pair_lowers_recall(self):
        fails, recall, missed = self.outputs({1: 1, 2: 1, 3: 3, 10: 10}, [])
        self.assertEqual((recall, missed), (0.0, [(10, 3)]))
        self.assertTrue(any("recall" in f for f in fails))

    def test_wrong_outputs_fail(self):
        cases = [({1: 1, 2: 1, 3: 1, 10: 1}, [(10, 3), (3, 1)]),   # 3 and 1 are not similar
                 ({1: 1, 2: 2, 3: 3, 10: 3}, [(10, 3), (2, 1)]),   # pair split over clusters
                 ({1: 2, 2: 2, 3: 3, 10: 3}, [(10, 3)]),           # label not the smallest id
                 ({1: 1, 3: 3, 10: 3}, [(10, 3)])]                 # base doc 2 unlabelled
        for labels, edges in cases:
            fails, _, _ = self.outputs(labels, edges)
            self.assertTrue(fails, (labels, edges))


def fake_result(workload):
    op = {"i": 0, "kind": "query", "name": "q", "group": "q", "timed": True, "traced": True,
          "ok": True, "start_ns": 0, "end_ns": 2_000_000_000, "wall_s": 2.0,
          "persisted_rdds": 0, "tracked": 0, "counters": {},
          "spark": {"jobs": 1, "tasks": 4, "task_run_s": 1.0, "task_cpu_s": 0.5, "gc_s": 0.0,
                    "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0,
                    "job_intervals": [[0, 1_000_000_000]]}}
    plain = dict(op, i=1, traced=False, spark=None, start_ns=2_000_000_000,
                 end_ns=3_000_000_000, wall_s=1.0)
    return {"workload": workload, "window_s": 3.0, "window_start_ms": 10_000.0,
            "live_heap_mb": 80.0, "finish": {}, "ops": [op, plain],
            "spans": [span(0, -1, "op", 0, 2_000_000_000)],
            "calib": {"start": {"cpu_s": [0.1], "spark_s": [0.2]},
                      "end": {"cpu_s": [0.1], "spark_s": [0.2]}}}


class MetricNames(unittest.TestCase):
    def test_match_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], run.PER_LAYER)
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))

    def test_every_metric_is_computed(self):
        res = fake_result("mart_read")
        e2e, _ = run.end_to_end(res, 1.0, 5.0)
        self.assertTrue({n for n, _ in run.END_TO_END} <= set(e2e))
        m, _ = run.per_layer(res, e2e, 0.0)
        self.assertEqual({n for n, _ in run.PER_LAYER}, set(m))
        self.assertAlmostEqual(m["spark.driver_gap_s"], 1.0)   # 2 s op, 1 s in jobs
        self.assertAlmostEqual(e2e["setup_s"], 1.0 + 10.0 - 5.0)


if __name__ == "__main__":
    unittest.main()
