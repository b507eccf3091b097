"""Tests of the benchmark's own arithmetic and output schema.

Run from the repo root: python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from bench import checks, epochgen, metrics, stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(HERE))


def span(i, parent, name, layer, start, end, p=0, unit=-1, **attrs):
    return {"id": i, "parent": parent, "name": name, "layer": layer,
            "pass": p, "unit": unit, "start": start, "end": end,
            "attrs": attrs}


class Percentiles(unittest.TestCase):
    def test_linear_between_ranks(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 0), 10)
        self.assertEqual(stats.percentile(xs, 100), 40)
        self.assertAlmostEqual(stats.percentile(xs, 50), 25)
        self.assertAlmostEqual(stats.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(stats.percentile(list(range(101)), 90), 90)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(99)), 90))
        self.assertAlmostEqual(stats.tail_percentile(list(range(100)), 90),
                               89.1)


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(4, 4), (5, 3)]), 0)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time_subtracts_covered_part(self):
        tree = stats.nest([
            span(1, -1, "pass", "bench", 0, 100),
            span(2, 1, "q", "queries", 10, 90, unit=0),
            span(3, 2, "job", "spark", 20, 50),
            span(4, 2, "job", "spark", 40, 60),   # overlaps job 3
            span(5, 3, "stage", "spark", 25, 45),
        ])
        selfs = stats.self_times(tree)
        self.assertEqual(selfs[1], 20)      # 100 - 80
        self.assertEqual(selfs[2], 40)      # 80 - union(20..60)
        self.assertEqual(selfs[3], 10)      # 30 - 20
        self.assertEqual(selfs[4], 20)
        self.assertEqual(selfs[5], 20)

    def test_children_clipped_to_parent(self):
        tree = stats.nest([span(1, -1, "a", "x", 0, 10),
                           span(2, 1, "b", "y", 5, 20)])
        self.assertEqual(stats.self_times(tree)[1], 5)

    def test_time_placed_spans_find_deepest_host(self):
        tree = stats.nest([
            span(1, -1, "pass", "bench", 0, 100, p=3),
            span(2, 1, "q", "queries", 10, 90, p=3, unit=7),
            span(3, 2, "job", "spark", 20, 50, p=3, unit=7),
            span(4, -2, "gc", "jvm", 30, 32, p=-1),
            span(5, -2, "plan.analysis", "spark", 12, 14, p=-1),
            span(6, -2, "gc", "jvm", 200, 201, p=-1),
        ])
        self.assertEqual(tree[4]["parent"], 3)
        self.assertEqual(tree[5]["parent"], 2)
        self.assertEqual(tree[6]["parent"], -1)
        self.assertEqual((tree[4]["pass"], tree[4]["unit"]), (3, 7))
        self.assertEqual(stats.self_times(tree)[3], 28)

    def test_microbatch_adopts_its_jobs(self):
        tree = stats.nest([
            span(1, -1, "pass", "bench", 0, 100),
            span(2, 1, "q", "queries", 0, 100, unit=0),
            span(3, 2, "job", "spark", 20, 30, unit=0),
            span(4, 2, "job", "spark", 70, 80, unit=0),
            span(5, -2, "microbatch", "streaming", 15, 40, p=-1),
        ])
        self.assertEqual(tree[5]["parent"], 2)
        self.assertEqual(tree[3]["parent"], 5)
        self.assertEqual(tree[4]["parent"], 2)
        selfs = stats.self_times(tree)
        self.assertEqual(selfs[5], 15)
        self.assertEqual(selfs[2], 100 - 25 - 10)

    def test_unfinished_spans_dropped(self):
        tree = stats.nest([span(1, -1, "a", "x", 0, 10),
                           span(2, 1, "b", "y", 5, None)])
        self.assertEqual(list(tree), [1])


def fake_result(traced_pass=False):
    passes = [{"pass": 0, "traced": False, "wall_s": 10.0, "jobs": 40,
               "gc_count": 2, "gc_ms": 30, "heap_after_gc_mb": 100.0},
              {"pass": 1, "traced": False, "wall_s": 12.0, "jobs": 42,
               "gc_count": 2, "gc_ms": 30, "heap_after_gc_mb": 120.0}]
    if traced_pass:
        passes[1]["traced"] = True
    units = [{"pass": p, "idx": i, "name": n, "family": "streaming",
              "ms": ms, "ok": True, "error": "", "jobs": 10}
             for p, row in ((-1, [9000, 9000]), (0, [4000, 6000]),
                            (1, [5000, 7000]))
             for i, (n, ms) in enumerate(zip(["qa", "qb"], row))]
    spans = [span(1, -1, "pass", "bench", 0, 12000, p=1),
             span(2, 1, "qa", "queries", 0, 5000, p=1, unit=0),
             span(3, 2, "job", "spark", 1000, 3000, p=1, unit=0),
             span(4, 3, "stage", "spark", 1000, 3000, p=1, unit=0,
                  tasks=4, task_run_ms=6000, shuffle_write_bytes=1048576),
             span(5, -2, "microbatch", "streaming", 500, 3500, p=-1,
                  addBatch=2500, state_rows=10, state_mem_bytes=2097152)]
    return {"passes": passes, "units": units, "spans": spans,
            "env": {}, "setup": {}}


class Metrics(unittest.TestCase):
    def test_end_to_end_from_untraced_passes(self):
        e2e, extra = metrics.end_to_end(fake_result(), 30.0)
        self.assertEqual(e2e["setup_s"], 30.0)
        self.assertEqual(e2e["run_s"], 11.0)
        self.assertEqual(e2e["query_p50_ms"], 5500.0)   # warm-up excluded
        self.assertEqual(e2e["jobs_per_pass"], 41)
        self.assertEqual(e2e["heap_peak_mb"], 120.0)
        self.assertEqual(extra["query_samples"], 4)
        self.assertNotIn("query_p90_ms", extra)       # too few samples

    def test_per_layer_of_traced_pass(self):
        m = metrics.per_layer(fake_result(traced_pass=True), 4, {}, {"a": "qa"})
        self.assertEqual(m["spark.jobs"], 42)
        self.assertEqual(m["spark.stages"], 1)
        self.assertEqual(m["spark.task_run_s"], 6.0)
        self.assertEqual(m["spark.shuffle_write_mb"], 1.0)
        self.assertAlmostEqual(m["spark.core_busy_share"], 6.0 / (4 * 12.0))
        self.assertEqual(m["streaming.batches"], 1)
        self.assertEqual(m["streaming.add_batch_ms"], 2500)
        self.assertEqual(m["streaming.state_mem_mb"], 2.0)
        self.assertEqual(m["streaming.lifecycle_ms"], 5000 - 3000)
        self.assertEqual(m["queries.a.s"], 5.0)
        self.assertEqual(m["queries.self_s"], 2.0)      # 5 s - microbatch
        self.assertEqual(m["streaming.self_s"], 1.0)    # 3 s - job
        self.assertEqual(m["trace.run_s"], 12.0)
        self.assertEqual(m["trace.overhead_s"], 2.0)

    def test_units(self):
        self.assertEqual(metrics.unit_of("query_p50_ms"), "ms")
        self.assertEqual(metrics.unit_of("pipeline.phot.s"), "s")
        self.assertEqual(metrics.unit_of("sources.fits_mpix_per_s"), "Mpix/s")
        self.assertEqual(metrics.unit_of("spark.core_busy_share"), "fraction")
        self.assertEqual(metrics.unit_of("pipeline.phot.jobs"), "count")


class Schema(unittest.TestCase):
    """BENCHMARK.json keeps to the format the benchmark is run under."""

    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            self.b = json.load(fh)

    def test_keys_and_limits(self):
        import re
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds",
                                  "workloads", "end_to_end", "per_layer"})
        self.assertTrue(1 <= b["run_seconds"] <= 60)
        self.assertTrue(2 <= len(b["workloads"]) <= 8)
        self.assertTrue(1 <= len(b["end_to_end"]) <= 16)
        self.assertTrue(1 <= len(b["per_layer"]) <= 128)
        name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
        names = [w["name"] for w in b["workloads"]]
        for w in b["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(len(w["why"]) <= 200 and "\n" not in w["why"])
        for m in b["end_to_end"]:
            self.assertEqual(set(m), {"name", "unit", "better", "bound"})
            self.assertTrue(0 < m["bound"] <= 0.25)
        for m in b["end_to_end"] + b["per_layer"]:
            self.assertRegex(m["name"], name)
            self.assertRegex(m["unit"], unit)
            self.assertIn(m["better"], ("higher", "lower"))
            names.append(m["name"])
        self.assertEqual(len(names), len(set(names)))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(setup[0]["better"], "lower")
        self.assertEqual(setup[0]["bound"],
                         max(m["bound"] for m in b["end_to_end"]))

    def test_units_agree_with_printed_ones(self):
        for m in self.b["end_to_end"] + self.b["per_layer"]:
            self.assertEqual(metrics.unit_of(m["name"]), m["unit"], m["name"])

    def test_per_layer_names_are_the_printed_ones(self):
        # the queries run.py names, whether or not the workload runs them
        import run
        m = metrics.per_layer(fake_result(traced_pass=True), 4, {},
                              run.STREAM_QUERIES)
        self.assertEqual(set(m), {x["name"] for x in self.b["per_layer"]})

    def test_end_to_end_names_are_the_printed_ones(self):
        e2e, _ = metrics.end_to_end(fake_result(), 1.0)
        self.assertEqual(set(e2e), {x["name"] for x in self.b["end_to_end"]})


class Generator(unittest.TestCase):
    def test_seeded_and_well_placed(self):
        with tempfile.TemporaryDirectory() as d1, \
                tempfile.TemporaryDirectory() as d2:
            a = epochgen.generate(5, d1, 128, 1, n_stars=4)
            b = epochgen.generate(5, d2, 128, 1, n_stars=4)
            self.assertEqual(a, b)
            with open(os.path.join(d1, "set_0", "frame_1.fits"), "rb") as f1, \
                    open(os.path.join(d2, "set_0", "frame_1.fits"), "rb") as f2:
                self.assertEqual(f1.read(), f2.read())
            with open(os.path.join(d1, "set_0", "meta.csv")) as fh:
                self.assertEqual(fh.read().splitlines(),
                                 [f"frame_{i}.fits,1" for i in range(3)])
            stars = a[0]["stars"]
            for i, (x, y, _) in enumerate(stars):
                self.assertTrue(epochgen.MARGIN <= x <= 128 - epochgen.MARGIN)
                for x2, y2, _ in stars[i + 1:]:
                    self.assertGreaterEqual(
                        (x - x2) ** 2 + (y - y2) ** 2, epochgen.MIN_SEP ** 2)

    def test_fits_layout(self):
        import numpy as np
        img = np.arange(6, dtype=float).reshape(2, 3)
        raw = epochgen.fits_bytes(img)
        self.assertEqual(len(raw) % 2880, 0)
        self.assertTrue(raw.startswith(b"SIMPLE  =                    T"))
        ext = raw[2880:5760].decode("ascii")
        self.assertIn("NAXIS1  =                    3", ext)
        self.assertIn("NAXIS2  =                    2", ext)
        data = np.frombuffer(raw[5760:5760 + 24], dtype=">f4")
        self.assertEqual(list(data), [0, 1, 2, 3, 4, 5])


class StarCheck(unittest.TestCase):
    def test_best_alignment_and_summed_flux(self):
        truth = {"dithers": [[0, 0], [3, -2]],
                 "stars": [[50.0, 50.0, 1000.0], [80.0, 30.0, 2000.0]]}
        rows = [(53.2, 48.1, 600.0), (53.0, 48.0, 420.0),  # one star, two rows
                (83.0, 28.0, 1900.0), (10.0, 10.0, 50.0)]
        found, planted, errs = checks.match_stars(truth, rows)
        self.assertEqual((found, planted), (2, 2))
        self.assertAlmostEqual(sorted(errs)[0], 0.02)
        self.assertAlmostEqual(sorted(errs)[1], 0.05)

    def test_missing_star_lowers_recall(self):
        truth = {"dithers": [[0, 0]], "stars": [[50.0, 50.0, 1000.0],
                                                [80.0, 30.0, 2000.0]]}
        found, planted, _ = checks.match_stars(truth, [(50.5, 50.5, 990.0)])
        self.assertEqual((found, planted), (1, 2))


if __name__ == "__main__":
    unittest.main()
