"""Self-tests of the benchmark's own logic (no Spark, no JVM):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import layers    # noqa: E402
import metrics   # noqa: E402
import syncgen   # noqa: E402


def small_run(batches=4, seed=7):
    """A tiny generated sync run and the model after it."""
    with tempfile.TemporaryDirectory() as d:
        gen = syncgen.Generator(seed, objects=300, batch_rows=100)
        model = syncgen.Model()
        model.apply(gen.bootstrap(os.path.join(d, "boot.jsonl")))
        for i in range(batches):
            model.apply(gen.batch(os.path.join(d, "b%d.jsonl" % i)))
    return model


def snapshot_of(model):
    return [(oid, r[1], r[2], r[3]) for oid, r in model.rows.items()]


class SyncModelTest(unittest.TestCase):

    def test_model_accepts_its_own_snapshot(self):
        model = small_run()
        self.assertEqual(model.diff(snapshot_of(model)), [])

    def test_corrupted_snapshot_is_rejected(self):
        model = small_run()
        good = snapshot_of(model)
        oid, upd, prop, arch = good[5]
        corruptions = {
            "payload": good[:5] + [(oid, upd, prop + " ", arch)] + good[6:],
            "cursor": good[:5] + [(oid, upd + 1, prop, arch)] + good[6:],
            "archived": good[:5] + [(oid, upd, prop, not arch)] + good[6:],
            "missing row": good[:5] + good[6:],
            "duplicate row": good + [good[5]],
            "extra row": good + [(10 ** 9, upd, prop, arch)],
        }
        for what, snap in corruptions.items():
            with self.subTest(what):
                self.assertNotEqual(model.diff(snap), [])

    def test_merge_rule(self):
        m = syncgen.Model()
        m.apply([(1, 0, 10, "a", False), (2, 0, 20, "b", False)])
        self.assertEqual(m.cursor, 20)
        m.apply([
            (1, 0, 5, "stale", False),      # below the cursor: dropped
            (2, 0, 20, "same", False),      # unchanged cursor: target kept
            (3, 0, 30, "new", False),       # insert
            (3, 0, 31, "newer", False),     # in-batch duplicate: latest wins
            (1, 0, 25, "a", True),          # tombstone
        ])
        self.assertEqual(m.rows[1], (0, 25, "a", True))
        self.assertEqual(m.rows[2], (0, 20, "b", False))
        self.assertEqual(m.rows[3], (0, 31, "newer", False))
        self.assertEqual(m.cursor, 31)

    def test_generator_is_seeded(self):
        def land(seed):
            with tempfile.TemporaryDirectory() as d:
                gen = syncgen.Generator(seed, objects=200, batch_rows=50)
                gen.bootstrap(os.path.join(d, "boot"))
                gen.batch(os.path.join(d, "b"))
                with open(os.path.join(d, "b")) as f:
                    return f.read()
        self.assertEqual(land(3), land(3))
        self.assertNotEqual(land(3), land(4))

    def test_wire_formats(self):
        ms = 915148800123
        self.assertEqual(syncgen.fmt_ts(ms, 0), "1999-01-01T00:00:00.123Z")
        self.assertEqual(syncgen.fmt_ts(ms - 123, 1), "1999-01-01T00:00:00Z")
        self.assertEqual(syncgen.fmt_ts(ms, 2), "915148800123")


class TailTest(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(metrics.tail(xs), (90, 90.0))
        self.assertEqual(metrics.tail(list(reversed(xs))), (90, 90.0))

    def test_twenty_ops_give_the_median(self):
        xs = [float(i) for i in range(1, 21)]
        self.assertEqual(metrics.tail(xs), (50, 10.0))

    def test_thousand_ops_give_p99(self):
        xs = [float(i) for i in range(1, 1001)]
        self.assertEqual(metrics.tail(xs), (99, 990.0))

    def test_ties_do_not_count_as_beyond(self):
        xs = [1.0] * 30 + [2.0] * 15
        self.assertEqual(metrics.tail(xs), (66, 1.0))

    def test_too_few_ops_fall_back_to_the_median(self):
        for xs, mid in (([3.0, 1.0, 2.0], 2.0), ([float(i) for i in range(1, 16)], 8.0)):
            pct, v = metrics.tail(xs)
            self.assertEqual(pct, 50)
            self.assertAlmostEqual(v, mid, places=6)


class MedianTest(unittest.TestCase):

    def test_harrell_davis_median(self):
        self.assertAlmostEqual(metrics.hd_median([5.0, 1.0, 3.0, 2.0, 4.0]), 3.0, places=6)
        self.assertAlmostEqual(metrics.hd_median([float(i) for i in range(1, 101)]),
                               50.5, places=4)
        self.assertEqual(metrics.hd_median([7.0]), 7.0)

    def test_one_op_changing_place_moves_it_less(self):
        a = [0.4, 0.5, 0.6, 0.7, 0.8, 1.6, 1.8, 2.0, 2.4]
        b = [0.4, 0.5, 0.6, 0.7, 1.55, 1.6, 1.8, 2.0, 2.4]   # the 0.8 op got slow
        plain = abs(statistics.median(b) - statistics.median(a))
        hd = abs(metrics.hd_median(b) - metrics.hd_median(a))
        self.assertLess(hd, plain)


def synthetic_record(workload):
    op = {"idx": 0, "name": "batch-0000.jsonl" if workload == "sync" else "q01_cursor_scan",
          "pass": 0, "start_ms": 1000.0, "end_ms": 3000.0, "ok": True, "error": "",
          "bytes_written": 500, "files_written": 2, "rows": 10}
    return {
        "setup": {"session_s": [4.0], "bootstrap_s": [2.0, 2.5, 2.2]},
        "info": {"snapshot_files": "7", "snapshot_bytes": "1000"},
        "ops": [op], "gc_ms": 10.0, "vm_hwm_kb": 2048.0,
        "spans": [{"id": 0, "name": "op", "parent": -1, "op": 0,
                   "start_ms": 1000.0, "end_ms": 3000.0},
                  {"id": 1, "name": "operators.upsert", "parent": 0, "op": 0,
                   "start_ms": 1100.0, "end_ms": 2000.0}],
        "counts": [{"op": 0, "span": 1, "key": "operators.upsert.partitions_touched",
                    "value": 3.0}],
        "jobs": [{"id": 0, "span": 1, "op": 0, "site": "parquet at Upsert.scala:140",
                  "start_ms": 1200.0, "end_ms": 1800.0, "stages": 2, "tasks": 8,
                  "cpu_s": 1.5, "shuffle_bytes": 100.0, "spill_bytes": 0.0,
                  "input_bytes": 300.0, "output_records": 50.0}],
        "phases": [{"start_ms": 1050.0, "plan_ms": 30.0}],
    }


class AttributionTest(unittest.TestCase):

    def test_job_from_a_pooled_thread_is_placed_by_time(self):
        spans = [{"id": 0, "name": "op", "parent": -1, "op": 0, "start_ms": 0.0, "end_ms": 100.0},
                 {"id": 1, "name": "op", "parent": -1, "op": 1, "start_ms": 200.0, "end_ms": 300.0},
                 {"id": 2, "name": "inner", "parent": 1, "op": 1,
                  "start_ms": 220.0, "end_ms": 280.0}]
        ops = [{"idx": 0, "start_ms": 0.0, "end_ms": 100.0},
               {"idx": 1, "start_ms": 200.0, "end_ms": 300.0}]
        jobs = [{"span": 0, "op": 0, "start_ms": 250.0},     # stale: thread made in op 0
                {"span": -1, "op": -1, "start_ms": 210.0},   # thread made before any op
                {"span": 0, "op": 0, "start_ms": 50.0}]      # current: kept
        got = [(j["span"], j["op"]) for j in layers.attribute(jobs, spans, ops)]
        self.assertEqual(got, [(2, 1), (1, 1), (0, 0)])


class MetricNamesTest(unittest.TestCase):
    """The printed metric names are exactly the ones BENCHMARK.json declares."""

    def test_end_to_end_names(self):
        declared, _ = metrics.declared()
        for workload in ("sync", "catalog"):
            with self.subTest(workload):
                values, _ = metrics.end_to_end(
                    synthetic_record(workload), workload, 10.0,
                    {"batch-0000.jsonl": (100, 1000)}, data_bytes=5000)
                out = metrics.assemble(values, declared)
                self.assertEqual(list(out), [d["name"] for d in declared])
                for d in declared:
                    self.assertEqual(out[d["name"]]["unit"], d["unit"])
                    self.assertGreater(out[d["name"]]["value"], 0, d["name"])

    def test_per_layer_names(self):
        _, declared = metrics.declared()
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for workload in ("sync", "catalog"):
            with self.subTest(workload):
                values = layers.per_layer(synthetic_record(workload), 4,
                                          {"batch-0000.jsonl": (100, 1000)}, root)
                out = metrics.assemble(values, declared)
                self.assertEqual(list(out), [d["name"] for d in declared])

    def test_missing_metric_is_an_error(self):
        declared, _ = metrics.declared()
        with self.assertRaises(KeyError):
            metrics.assemble({}, declared)


if __name__ == "__main__":
    unittest.main()
