"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s hwbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen      # noqa: E402
import metrics  # noqa: E402
import run      # noqa: E402
import stats    # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertTrue(stats.supports(100, 90))
        self.assertFalse(stats.supports(99, 90))
        self.assertTrue(stats.supports(20, 50))
        with self.assertRaises(ValueError):
            stats.tail(list(range(99)), 90)
        self.assertAlmostEqual(stats.tail(list(range(101)), 90), 90.0)

    def test_percentile_interpolates(self):
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(stats.percentile([0, 10], 25), 2.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_spread_is_iqr_over_median(self):
        v = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(stats.spread(v), 0.0)
        self.assertGreater(stats.spread([8, 9, 10, 11, 12]), 0.0)


class FailureCounting(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.failed_ratio(10, 0), 0.0)
        self.assertEqual(stats.failed_ratio(4, 1), 0.25)
        with self.assertRaises(ValueError):
            stats.failed_ratio(0, 0)

    def test_ingest_rows_missing_extra_and_duplicated(self):
        truth = {"data": [(1, "H1", 1.0, 1.0, 1), (2, "H1", 2.0, 2.0, 1)],
                 "dlq": [(1, "H2", 3.0, 3.0, 1)]}
        exact = {"ingest_check": {"data": [list(r) for r in truth["data"]],
                                  "dlq": [list(r) for r in truth["dlq"]]}}
        self.assertEqual(run.ingest_check(exact, truth), (0, 3))
        bad = {"ingest_check": {
            "data": [[1, "H1", 1.0, 1.0, 1], [1, "H1", 1.0, 1.0, 1],   # duplicate
                     [2, "H1", 9.0, 2.0, 1]],                         # wrong value
            "dlq": []}}                                                # missing
        wrong, attempted = run.ingest_check(bad, truth)
        self.assertEqual(attempted, 3)
        self.assertEqual(wrong, 4)  # missing + extra for the wrong row, dup, dlq miss


class SpanSelfTime(unittest.TestCase):
    def span(self, i, parent, layer, t0, t1):
        return {"id": i, "parent": parent, "layer": layer, "name": layer,
                "key": "k", "t0": t0, "t1": t1}

    def test_children_are_subtracted_once(self):
        spans = [self.span(1, 0, "query", 0.0, 10.0),
                 self.span(2, 1, "queries", 0.0, 2.0),
                 self.span(3, 1, "exec", 2.0, 9.0),
                 self.span(4, 3, "jobs", 3.0, 6.0),
                 self.span(5, 3, "jobs", 5.0, 8.0)]   # overlaps job 4
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 1.0)
        self.assertAlmostEqual(st[3], 2.0)
        self.assertAlmostEqual(st[4], 3.0)
        layers = stats.layer_self_times(spans)
        # concurrent jobs each count their own time
        self.assertAlmostEqual(sum(layers.values()), 11.0)
        self.assertAlmostEqual(layers["exec"], 2.0)

    def test_child_outside_parent_is_clipped(self):
        spans = [self.span(1, 0, "exec", 0.0, 1.0), self.span(2, 1, "jobs", 0.5, 3.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 0.5)

    def test_jobs_nest_under_the_innermost_span(self):
        spans = [self.span(1, 0, "query", 0.0, 10.0), self.span(2, 1, "exec", 2.0, 9.0)]
        groups = {"k": {"job_spans": [{"job": 7, "t0": 3.0, "t1": 4.0}]}}
        job = metrics.with_jobs(spans, groups)[-1]
        self.assertEqual((job["parent"], job["layer"]), (2, "jobs"))


class GeneratorDeterminism(unittest.TestCase):
    def test_catalog_same_seed_same_tables(self):
        a = gen.catalog_tables(5, 0.001, 200)
        b = gen.catalog_tables(5, 0.001, 200)
        c = gen.catalog_tables(6, 0.001, 200)
        self.assertEqual(sorted(a), sorted(run_tables()))
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))

    def test_corpus_plants_duplicates(self):
        import numpy as np
        texts = gen.corpus(np.random.default_rng(1), 2000, 0.01, 0.05)
        near = sum(t.endswith(" dup") for t in texts)
        exact = len(texts) - len(set(texts))
        self.assertGreater(near, 50)
        self.assertGreater(exact, 5)

    def test_frames_same_seed_same_files_and_truth(self):
        a = gen.frames(3, 80, late_rounds=48)
        self.assertEqual(a, gen.frames(3, 80, late_rounds=48))
        self.assertNotEqual(a[0], gen.frames(4, 80, late_rounds=48)[0])

    def test_frames_truth_excludes_late_and_splits_partial_hours(self):
        files, truth = gen.frames(3, 120, late_rounds=48, n_devices=40)
        self.assertTrue(truth["data"] and truth["dlq"])
        late_lines = [x for f in files for x in f if '{"w":1}' in x]
        self.assertTrue(late_lines)
        self.assertFalse([r for s in truth.values() for r in s if r[3] == 1.0])
        hours = {}
        for r in truth["data"]:
            hours.setdefault(r[0], set()).add(r[1])
        self.assertTrue(all(len(d) == 40 for d in hours.values()))

    def test_frame_files_keep_generation_order(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_frames(d, [["a"], ["b"], ["c"]])
            names = sorted(os.listdir(d))
            mtimes = [os.path.getmtime(os.path.join(d, n)) for n in names]
            self.assertEqual(mtimes, sorted(mtimes))
            self.assertEqual(len(set(mtimes)), 3)


class BenchmarkFile(unittest.TestCase):
    def test_metric_lists_match_the_runner(self):
        import json
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(run.WORKLOADS))

    def test_run_length_supports_the_tail_percentile(self):
        import json
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
            seconds = json.load(f)["run_seconds"]
        paced = round(run.WORKLOADS["telemetry_ingest"]["rate"] * seconds)
        self.assertTrue(stats.supports(paced, metrics.TAIL))


def run_tables():
    # the engine's catalog table list, as the oracle views need it
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
    import parity
    return parity.TABLES


if __name__ == "__main__":
    unittest.main()
