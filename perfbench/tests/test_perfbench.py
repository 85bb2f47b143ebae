"""Unit tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402
import run  # noqa: E402
import layers  # noqa: E402

REPO = os.path.dirname(os.path.dirname(HERE))


def _digest(d):
    h = hashlib.sha256()
    for base, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(base, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorDeterminism(unittest.TestCase):
    def _make(self, seed):
        with tempfile.TemporaryDirectory() as d:
            planted = gen.panel(seed, d, 50)
            return _digest(d), planted

    def test_same_seed_same_bytes(self):
        self.assertEqual(self._make(7), self._make(7))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(self._make(7)[0], self._make(8)[0])

    def test_plants(self):
        lengths = self._make(3)[1]
        self.assertEqual(len(lengths), 50)
        self.assertTrue(set(lengths.values()) <= set(gen.SEASONAL_LENGTHS))

    def test_registry_draw(self):
        """The registry's inputs are the fixture; the seed draws the query
        order and the checked sample, the same for the same seed."""
        fixture = os.path.join(REPO, run.FIXTURE)
        a = run.generate("forecast_registry", 5, {}, REPO, None)
        self.assertEqual(a, run.generate("forecast_registry", 5, {}, REPO, None))
        self.assertEqual(a[0], fixture)
        self.assertEqual(sorted(a[1]["queries"].split(",")), sorted(run.REGISTRY_QUERIES))
        self.assertNotEqual(a[1], run.generate("forecast_registry", 6, {}, REPO, None)[1])


def _span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent, "run": "r",
            "start_ms": float(start), "end_ms": float(end)}


class SpanArithmetic(unittest.TestCase):
    def test_self_time_of_nested_spans(self):
        spans = [_span(0, "wall", -1, 0, 100),
                 _span(1, "a", 0, 10, 40),
                 _span(2, "a.inner", 1, 15, 25),
                 _span(3, "a.inner2", 1, 20, 35),  # overlaps its sibling
                 _span(4, "b", 0, 50, 90)]
        self.assertEqual(layers.self_times(spans), {0: 30.0, 1: 10.0, 2: 10.0, 3: 15.0, 4: 40.0})

    def test_union_clips(self):
        self.assertEqual(layers.union_length([(0, 10), (5, 20), (30, 40)], 8, 35), 17.0)
        self.assertEqual(layers.union_length([]), 0.0)

    def test_job_attribution(self):
        spans = [_span(0, "wall", -1, 0, 100), _span(1, "a", 0, 10, 40)]
        jobs = [{"id": 0, "submit_ms": 20, "end_ms": 30, "span": 1, "stages": []},
                {"id": 1, "submit_ms": 20, "end_ms": 30, "span": -1, "stages": []},
                {"id": 2, "submit_ms": 45, "end_ms": 46, "span": -1, "stages": []},
                {"id": 3, "submit_ms": 500, "end_ms": 501, "span": -1, "stages": []}]
        self.assertEqual(layers.attribute_jobs(spans, jobs), {0: 1, 1: 1, 2: 0, 3: None})


def _fake_raw():
    """A raw run record with one span of every layer and one job in each."""
    names = ["wall"] + list(layers.LAYER_SPANS)
    spans = [_span(i, n, -1 if i == 0 else 0, 10 * i, 10 * i + 9 if i else 1000)
             for i, n in enumerate(names)]
    jobs = [{"id": i, "submit_ms": 10 * i + 1, "end_ms": 10 * i + 5, "span": i, "stages": [i]}
            for i in range(1, len(names))]
    stage = {"tasks": 4, "empty_tasks": 1, "task_ms": 100, "cpu_ns": 5e7, "gc_ms": 10,
             "shuffle_write_bytes": 1 << 20, "shuffle_write_records": 10,
             "shuffle_read_bytes": 1 << 20, "shuffle_read_records": 10,
             "spill_disk_bytes": 0, "spill_memory_bytes": 0, "completed": 1}
    passes = [{"wall_s": 1.0 + 0.1 * k, "traced": False,
               "ops": [{"name": f"op{i}", "s": 0.1 * i, "error": None} for i in range(25)]}
              for k in range(3)]
    return {"setup_s": 2.5, "setup_error": None, "items": 100,
            "passes": passes, "heap_mb": [100.0, 110.0, 105.0],
            "untraced_wall_s": [1.2, 1.1], "traced_wall_s": 1.155, "storage_mb": 2.0,
            "calib_s": [0.3, 0.2, 0.4], "spans": spans,
            "engine": {"jobs": jobs, "plans": [{"start_ms": 15, "ms": 3}],
                       "stages": [dict(stage, id=i, job=i) for i in range(1, len(names))]}}


class MetricCoverage(unittest.TestCase):
    """Every metric BENCHMARK.json names is emitted, with its unit, in the
    mode that reports it.  The metric code is the same for every workload, so
    one record covers them all."""

    @classmethod
    def setUpClass(cls):
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            cls.spec = json.load(fh)

    def test_end_to_end(self):
        want = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        metrics, detail = run.end_to_end(_fake_raw())
        self.assertEqual({k: v["unit"] for k, v in metrics.items()}, want)
        self.assertTrue(all(v["value"] > 0 for v in metrics.values()))
        self.assertEqual(detail["op_samples"], 25)
        self.assertAlmostEqual(detail["op_tail_s"], 2.16)  # p90 of 0.0 .. 2.4
        self.assertAlmostEqual(metrics["e2e_s"]["value"], 2.5 + 1.1)

    def test_per_layer(self):
        want = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        self.assertEqual(dict(layers.per_layer_names()), want)
        values = layers.layer_metrics(_fake_raw())
        self.assertEqual(set(values), set(want))
        self.assertEqual(values["models.fit_predict.jobs"], 1)
        self.assertAlmostEqual(values["trace.overhead_share"], 0.05)
        self.assertEqual(values["spark.jobs"], len(layers.LAYER_SPANS))

    def test_listed_workloads_run(self):
        self.assertEqual({w["name"] for w in self.spec["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
