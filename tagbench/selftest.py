#!/usr/bin/env python3
"""Self-tests of the benchmark harness.

    python3 tagbench/selftest.py            # fast tests only
    python3 tagbench/selftest.py --slow     # also run each workload briefly

The slow tests compile the engine if needed and run every workload for one
second with tracing and a deliberately corrupted output, so they take a
few minutes.
"""
import glob
import hashlib
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import derive_tables  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SLOW = "--slow" in sys.argv


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(d, "**"), recursive=True)):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Generators(unittest.TestCase):
    def gen_logits(self, seed, d):
        gen.write_logits(seed, os.path.join(d, "logits"),
                         gen.write_vocab(seed, os.path.join(d, "vocab.json")))
        return tree_digest(d)

    def test_logits_and_vocab_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.assertEqual(self.gen_logits(7, a), self.gen_logits(7, b))
            self.assertNotEqual(self.gen_logits(7, a), self.gen_logits(8, c))

    def test_committed_tables_are_a_key_range_cut(self):
        import pyarrow.parquet as pq
        col = lambda t, c: pq.read_table(os.path.join(run.TABLES, f"{t}.parquet"),
                                         columns=[c]).column(c).to_pylist()
        customers = col("customer", "c_custkey")
        self.assertEqual(customers, list(range(len(customers))))
        self.assertLess(max(col("orders", "o_custkey")), len(customers))
        self.assertLessEqual(set(col("lineitem", "l_orderkey")), set(col("orders", "o_orderkey")))
        profile = derive_tables.profile(run.TABLES)
        self.assertEqual((profile["documents"], profile["embeddings"]), (5000, 2000))
        self.assertAlmostEqual(profile["orders_per_customer"], 10.0, delta=0.5)

    def test_warm_up_tables_are_byte_identical(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for d in (a, b):
                derive_tables.derive(run.TABLES, d, derive_tables.WARM_FRACTION,
                                     derive_tables.WARM_KEYS)
            self.assertEqual(tree_digest(a), tree_digest(b))

    @unittest.skipUnless(SLOW, "compiles the engine")
    def test_photo_tree_is_byte_identical_per_seed(self):
        classes, _ = run.build.ensure_built(run.ROOT, run.BUILD)
        digests = []
        with tempfile.TemporaryDirectory() as tmp:
            for i, seed in enumerate((3, 3, 4)):
                d = os.path.join(tmp, str(i))
                subprocess.run(run.java_cmd(classes, "graft.tagbench.GenPhotos", seed, d,
                                            heap="1g"), check=True, stdout=subprocess.DEVNULL)
                digests.append(tree_digest(d))
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])


class Metrics(unittest.TestCase):
    def test_end_to_end_names_match_benchmark_json(self):
        fake = {"passes": [{"wall_s": 2.0, "items": 10, "ops": {"a": 1.0, "b": 4.0}},
                           {"wall_s": 4.0, "items": 10, "ops": {"a": 1.0, "b": 4.0}}]}
        names = {m["name"] for m in spec()["end_to_end"]}
        for w in run.WORKLOADS:
            self.assertEqual(set(run.end_to_end(w, fake)) | {"setup_s"}, names)
        self.assertAlmostEqual(run.end_to_end("query_mix", fake)["items_per_s"], 0.5)
        self.assertAlmostEqual(run.end_to_end("tag_photos", fake)["items_per_s"], 3.75)

    def test_self_time_subtracts_the_union_of_child_intervals(self):
        s = 1_000_000_000
        spans = [
            {"id": 0, "parent": -1, "start_ns": 0, "end_ns": 10 * s},
            {"id": 1, "parent": 0, "start_ns": 1 * s, "end_ns": 4 * s},
            {"id": 2, "parent": 0, "start_ns": 3 * s, "end_ns": 6 * s},   # overlaps 1
            {"id": 3, "parent": 2, "start_ns": 4 * s, "end_ns": 5 * s},
            {"id": 4, "parent": 0, "start_ns": 9 * s, "end_ns": 12 * s},  # overruns 0
            {"id": 5, "parent": -1, "start_ns": 20 * s, "end_ns": 21 * s},
        ]
        self.assertEqual(run.self_times(spans),
                         {0: 4.0, 1: 3.0, 2: 2.0, 3: 1.0, 4: 3.0, 5: 1.0})


class OracleCheck(unittest.TestCase):
    def test_a_wrong_query_result_is_counted(self):
        import pyarrow as pa
        import pyarrow.parquet as pq
        tables = run.TABLES
        with tempfile.TemporaryDirectory() as out:
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"ok": "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey",
                           "bad": "SELECT n_nationkey FROM nation ORDER BY n_nationkey"}, f)
            regions = pq.read_table(os.path.join(tables, "region.parquet"))
            os.makedirs(os.path.join(out, "ok"))
            pq.write_table(regions, os.path.join(out, "ok", "part-0.parquet"))
            os.makedirs(os.path.join(out, "bad"))
            pq.write_table(pa.table({"n_nationkey": pa.array(range(24), pa.int32())}),
                           os.path.join(out, "bad", "part-0.parquet"))
            self.assertEqual(run.oracle_failures(tables, out), ["bad"])


@unittest.skipUnless(SLOW, "runs every workload")
class Workloads(unittest.TestCase):
    """Each workload, traced, with one output corrupted after its timed
    passes: the corruption must raise the error rate, and the traced run
    must emit only metric names BENCHMARK.json declares."""
    emitted = set()

    def run_workload(self, workload):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                              "--seed", "5", "--seconds", "1", "--trace", "1", "--fault"],
                             cwd=run.ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(out.returncode, 0, out.stderr[-3000:])
        details, result = (json.loads(x) for x in out.stdout.strip().splitlines()[-2:])
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(details["error_rate"], 0)
        Workloads.emitted |= set(details["emitted"])
        self.assertEqual(set(result["metrics"]), {m["name"] for m in spec()["per_layer"]})

    def test_tag_photos(self):
        self.run_workload("tag_photos")

    def test_retag_logits(self):
        self.run_workload("retag_logits")

    def test_query_mix(self):
        self.run_workload("query_mix")

    @classmethod
    def tearDownClass(cls):
        missing = {m["name"] for m in spec()["per_layer"]} - cls.emitted
        if len(cls.emitted) and missing:
            raise AssertionError(f"per-layer metrics no workload emits: {sorted(missing)}")


if __name__ == "__main__":
    unittest.main(argv=[sys.argv[0]] + [a for a in sys.argv[1:] if a != "--slow"])
