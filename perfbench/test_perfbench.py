"""Tests of the benchmark's own logic: the tail-percentile rule, the
task-interval union, call-site attribution, failure accounting, the output
checks, failed runs, the layer records and the metric names in
BENCHMARK.json. Run from the repository root:

    python3 -m unittest perfbench/test_perfbench.py
"""

import copy
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import analysis  # noqa: E402
import gen_nyc  # noqa: E402


class TailPercentileTest(unittest.TestCase):
    def test_eleventh_largest_leaves_ten_beyond(self):
        values = list(range(40, 0, -1))  # unsorted input, 1..40
        p, v, n = analysis.tail_percentile(values)
        self.assertEqual((p, v, n), (75.0, 30, 40))
        self.assertEqual(sum(1 for x in values if x > v), 10)

    def test_percentile_follows_sample_count(self):
        p, v, n = analysis.tail_percentile([float(i) for i in range(120)])
        self.assertAlmostEqual(p, 100 * 110 / 120)
        self.assertEqual(v, 109.0)

    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(analysis.tail_percentile([1.0] * 10), (None, None, 10))
        p, v, _ = analysis.tail_percentile([5.0] * 11)
        self.assertEqual((round(p, 3), v), (round(100 / 11, 3), 5.0))


class IntervalUnionTest(unittest.TestCase):
    def test_overlapping_nested_and_disjoint(self):
        spans = [(0, 10), (5, 15), (6, 7), (20, 25), (25, 30)]
        self.assertEqual(analysis.interval_union(spans), 15 + 10)

    def test_clipped_to_window(self):
        self.assertEqual(analysis.interval_union([(0, 10), (12, 20)], lo=5, hi=15), 5 + 3)
        self.assertEqual(analysis.interval_union([(0, 4)], lo=5, hi=15), 0)

    def test_empty(self):
        self.assertEqual(analysis.interval_union([]), 0)


class AttributeTest(unittest.TestCase):
    def test_innermost_library_frame_names_the_module(self):
        frames = ["graft.validate.Validator$.validate(Validator.scala:50)",
                  "graft.jobs.IngestJob$.run(Jobs.scala:44)",
                  "perfbench.Nyc$.run(Nyc.scala:48)"]
        self.assertEqual(analysis.attribute(frames), "validate")

    def test_sink_split_by_caller(self):
        upsert = ["graft.sink.UpsertSink$.writeAtomic(UpsertSink.scala:77)",
                  "graft.sink.UpsertSink$.upsertParquet(UpsertSink.scala:64)",
                  "graft.jobs.IngestJob$.run(Jobs.scala:50)"]
        metadata = upsert[:2] + ["graft.sink.MetadataTable$.update(MetadataTable.scala:32)",
                                 "graft.jobs.IngestJob$.run(Jobs.scala:56)"]
        render = ["graft.sink.JsonFeatureSink$.featureCollection(JsonFeatureSink.scala:66)",
                  "graft.serve.ApiServer.collectionBody(ApiServer.scala:80)"]
        self.assertEqual(analysis.attribute(upsert), "sink.upsert")
        self.assertEqual(analysis.attribute(metadata), "sink.metadata")
        self.assertEqual(analysis.attribute(render), "sink.features")

    def test_frames_outside_the_library(self):
        self.assertEqual(analysis.attribute(["perfbench.Catalog$.run(Harness.scala:9)"]),
                         "harness")
        self.assertEqual(analysis.attribute([]), "unknown")
        self.assertEqual(analysis.attribute(["graft.Bench$.materialize(Bench.scala:40)"]),
                         "graft")


class AccountTest(unittest.TestCase):
    def test_operations_and_checks_both_count(self):
        self.assertEqual(analysis.account([True, False, True], [True, False]), (5, 2))
        self.assertEqual(analysis.account([], []), (0, 0))

    def test_catalog_pins(self):
        result = {"queries": [
            {"name": "a", "ok": True, "rows": 3, "hash": "7"},
            {"name": "b", "ok": True, "rows": 3, "hash": "8"},
            {"name": "c", "ok": False, "error": "boom"},
            {"name": "d", "ok": True, "rows": 1, "hash": "1"}]}
        pins = {"a": {"rows": 3, "hash": "7"}, "b": {"rows": 3, "hash": "9"},
                "c": {"rows": 0, "hash": "0"}}
        oks, failed = analysis.check_catalog(result, pins)
        self.assertEqual(oks, [True, False, False, False])
        self.assertEqual(failed, ["b", "c", "d"])
        self.assertEqual(analysis.account(oks, []), (4, 3))

    def test_nyc_warm_shortfall_counts_as_failed(self):
        result = {"ingests": [{"ok": True}], "export": {"ok": True},
                  "serve_cold": [{"ok": True}], "warm_requests": 4,
                  "request_fields": ["ok"], "requests": [[1.0], [0.0], [1.0]]}
        self.assertEqual(analysis.nyc_operations(result),
                         [True, True, True, True, False, True, False])
        del result["serve_cold"]
        self.assertEqual(analysis.nyc_operations(result), [True, True, False])


class FailedRunTest(unittest.TestCase):
    """A run whose export failed still yields every end-to-end metric and a
    result line that reports the failures."""

    def test_export_failure_prints_a_failed_result(self):
        with tempfile.TemporaryDirectory() as d:
            expect = gen_nyc.generate(d, 3)
        result = {"workload": "nyc_pipeline", "batch_start_ms": 0.0, "batch_end_ms": 5000.0,
                  "batch_cpu_s": 9.0, "peak_rss_mb": 900.0,
                  "ingests": [{"phase": "fresh", "dataset": "a", "ok": True}],
                  "export": {"ok": False}}
        e2e, info = analysis.end_to_end(result, 2.0)
        self.assertEqual(set(e2e), {"setup_s", "batch_s", "batch_cpu_s",
                                    "op_p50_ms", "op_tail_ms", "op_rate"})
        self.assertEqual((e2e["op_p50_ms"][0], e2e["op_tail_ms"][0], e2e["op_rate"][0]),
                         (0.0, 0.0, 0.0))
        self.assertEqual(info["op_samples"], 0)
        checks = analysis.check_nyc(result, expect, {n: None for n in expect["exports"]})
        attempted, failed = analysis.account(analysis.nyc_operations(result),
                                             [ok for _, ok in checks])
        line = json.loads(analysis.metric_line(failed == 0, attempted, failed, e2e))
        self.assertFalse(line["correct"])
        self.assertEqual(line["attempted"], 3 + len(checks))
        self.assertEqual(line["failed"], 2 + len(checks))

    def test_catalog_without_a_tail_still_prints_it(self):
        result = {"workload": "catalog", "batch_start_ms": 0.0, "batch_end_ms": 1000.0,
                  "batch_cpu_s": 1.0, "peak_rss_mb": 2.0,
                  "queries": [{"start_ms": 0.0, "end_ms": 5.0}]}
        e2e, info = analysis.end_to_end(result, 1.0)
        self.assertEqual((e2e["op_p50_ms"][0], e2e["op_tail_ms"][0]), (5.0, 0.0))
        self.assertIsNone(info["tail_percentile"])


class NycChecksTest(unittest.TestCase):
    """The checks against the generator's ground truth, on a generated
    input set and a hand-built pipeline result that matches it."""

    @classmethod
    def setUpClass(cls):
        with tempfile.TemporaryDirectory() as d:
            cls.expect = gen_nyc.generate(d, 3)

    def passing(self):
        ingests = []
        for phase, datasets in self.expect["validation"].items():
            for ds, want in datasets.items():
                ingests.append({"phase": phase, "dataset": ds, "ok": True, "rows": want["rows"],
                                "duplicate_key_rows": want["duplicate_key_rows"],
                                "missing_required": [],
                                "range": [{"column": c, **v} for c, v in want["range"].items()]})
        exports = {}
        for name, want in self.expect["exports"].items():
            feats = []
            for k in want["keys"]:
                props = {want["key"]: k}
                if "year" in want:
                    props["year"] = want["year"]
                if "poverty_count" in want and k in want["poverty_count"]:
                    props["poverty_count"] = want["poverty_count"][k]
                if "date" in want:
                    props["date"] = want["date"][k]
                feats.append({"type": "Feature", "properties": props})
            exports[name] = {"type": "FeatureCollection", "features": feats}
        return {"ingests": ingests}, exports

    def test_generator_cardinalities(self):
        counts = {k: len(v["keys"]) for k, v in self.expect["exports"].items()}
        self.assertEqual(counts, {"food_gaps.json": 197, "poverty_by_zip.json": 177,
                                  "rent_by_zip.json": 155})

    def test_generator_is_seeded(self):
        with tempfile.TemporaryDirectory() as d:
            again = gen_nyc.generate(d, 3)
        with tempfile.TemporaryDirectory() as d:
            other = gen_nyc.generate(d, 4)
        self.assertEqual(again, self.expect)
        self.assertNotEqual(other["planted"], self.expect["planted"])

    def test_matching_result_passes(self):
        result, exports = self.passing()
        checks = analysis.check_nyc(result, self.expect, exports)
        self.assertTrue(all(ok for _, ok in checks), [n for n, ok in checks if not ok])
        self.assertEqual(len(checks), 8 + 9)

    def test_each_defect_fails_its_check(self):
        result, exports = self.passing()
        bad = copy.deepcopy(result)
        bad["ingests"][0]["duplicate_key_rows"] += 1
        failed = [n for n, ok in analysis.check_nyc(bad, self.expect, exports) if not ok]
        self.assertEqual(len(failed), 1)

        stale = copy.deepcopy(exports)
        stale["food_gaps.json"]["features"][0]["properties"]["year"] -= 1
        stale["rent_by_zip.json"]["features"].pop()
        failed = [n for n, ok in analysis.check_nyc(result, self.expect, stale) if not ok]
        self.assertEqual(failed, ["export:food_gaps.json:refreshed",
                                  "export:rent_by_zip.json:count",
                                  "export:rent_by_zip.json:keys",
                                  "export:rent_by_zip.json:refreshed"])

        missing = dict(exports, **{"poverty_by_zip.json": None})
        failed = [n for n, ok in analysis.check_nyc(result, self.expect, missing) if not ok]
        self.assertEqual(len(failed), 3)


class LayerRecordsTest(unittest.TestCase):
    def trace(self):
        fields = ["stage", "launch_ms", "finish_ms", "ok", "run_ms", "cpu_ns", "gc_ms",
                  "in_bytes", "in_rows", "out_bytes", "shuffle_write_bytes", "fetch_wait_ms",
                  "memory_spill_bytes", "disk_spill_bytes"]

        def task(stage, a, b, rows=10):
            return [stage, a, b, 1, b - a, (b - a) * 1e6, 0, 100, rows, 0, 0, 0, 0, 0]
        return {
            "workload": "nyc_pipeline", "cores": 2,
            "spans": [{"id": 1, "parent": 0, "op": 1, "name": "fresh:a", "layer": "jobs",
                       "start_ms": 0.0, "end_ms": 100.0},
                      {"id": 2, "parent": 0, "op": 2, "name": "serve_cold:x", "layer": "serve",
                       "start_ms": 200.0, "end_ms": 260.0}],
            "jobs": [{"job": 0, "event": "start", "time_ms": 10.0, "span": 1, "execution": 5,
                      "stages": [0, 1]},
                     {"job": 0, "event": "end", "time_ms": 50.0, "ok": True},
                     {"job": 1, "event": "start", "time_ms": 60.0, "span": 1, "execution": -1,
                      "stages": [2]},
                     {"job": 1, "event": "end", "time_ms": 80.0, "ok": True},
                     # submitted from a server thread: no span, placed by time
                     {"job": 2, "event": "start", "time_ms": 210.0, "span": 0, "execution": 6,
                      "stages": [3]},
                     {"job": 2, "event": "end", "time_ms": 250.0, "ok": True}],
            "stages": [{"stage": 0, "frames": []}, {"stage": 1, "frames": []},
                       {"stage": 2, "frames": ["graft.sink.UpsertSink$.w(UpsertSink.scala:1)",
                                               "graft.sink.MetadataTable$.u(MetadataTable.scala:2)"]},
                       {"stage": 3, "frames": []}],
            "sql_starts": [{"execution": 5, "frames": ["graft.validate.Validator$.v(V.scala:1)"]},
                           {"execution": 6, "frames": ["graft.serve.ApiServer.b(A.scala:1)"]}],
            "executions": [{"start_ms": 12.0, "analysis_ms": 1.0, "optimization_ms": 2.0,
                            "planning_ms": 3.0}],
            "task_fields": fields,
            "tasks": [task(0, 10, 30), task(1, 20, 40), task(2, 60, 70, rows=4),
                      task(3, 220, 240)],
        }

    def test_records(self):
        recs = analysis.layer_records(self.trace())
        self.assertEqual([r["op"] for r in recs], ["fresh:a", "serve_cold:x"])
        a, x = recs
        self.assertEqual(a["module_ms"], {"validate": 40.0, "sink.metadata": 20.0})
        self.assertEqual(a["task_busy_ms"], 30 + 10)
        self.assertEqual(a["driver_only_ms"], 100 - 40)
        self.assertEqual((a["jobs"], a["tasks"], a["in_rows"], a["in_rows_nonmeta"]),
                         (2, 3, 24, 20))
        self.assertEqual((a["executions"], a["planning_ms"]), (1, 3.0))
        self.assertEqual(x["module_ms"], {"serve": 40.0})
        self.assertEqual(x["driver_only_ms"], 60 - 20)

    def test_per_layer_sums(self):
        result = dict(self.trace(), shared_frames=[], raw_rows={"fresh": {"a": 8}},
                      peak_rss_mb=700.0,
                      request_fields=["gzip", "latency_ms"],
                      requests=[[0, 10.0], [1, 30.0], [0, 20.0]],
                      identity_bytes=[100, 300], gzip_bytes=[10, 30])
        m = analysis.per_layer(result, analysis.layer_records(result), 10.0, 10.5)
        self.assertEqual((m["validate.s"], m["sink.metadata_s"]), (0.04, 0.02))
        self.assertEqual(m["transform.raw_reads"], 20 / 8)
        self.assertEqual((m["jobs.ingest_s"], m["jobs.ingest_jobs"]), (0.1, 2))
        self.assertEqual((m["serve.cold_s"], m["serve.render_s"]), (0.06, 0.04))
        self.assertEqual((m["serve.identity_p50_ms"], m["serve.gzip_p50_ms"]), (15.0, 30.0))
        self.assertEqual(m["serve.gzip_ratio"], 0.1)
        self.assertAlmostEqual(m["exec.slot_use"], 0.070 / (0.060 * 2))
        self.assertEqual(m["mem.peak_rss_mb"], 700.0)
        self.assertEqual((m["trace.overhead_s"], m["trace.overhead_share"]), (0.5, 0.05))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_match_what_the_runs_print(self):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                               "BENCHMARK.json")) as f:
            bench = json.load(f)
        result = {"workload": "catalog", "batch_start_ms": 0.0, "batch_end_ms": 2000.0,
                  "batch_cpu_s": 3.0, "peak_rss_mb": 2.0,
                  "queries": [{"start_ms": 0.0, "end_ms": float(i)} for i in range(1, 21)]}
        e2e, _ = analysis.end_to_end(result, 1.0)
        self.assertEqual({(m["name"], m["unit"]) for m in bench["end_to_end"]},
                         {(k, u) for k, (_, u) in e2e.items()})
        self.assertEqual({(m["name"], m["unit"]) for m in bench["per_layer"]},
                         set(analysis.PER_LAYER_UNITS.items()))


if __name__ == "__main__":
    unittest.main()
