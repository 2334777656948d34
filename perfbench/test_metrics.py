"""Tests of the benchmark's own arithmetic:

    python3 perfbench/test_metrics.py
"""
import io
import json
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
import metrics  # noqa: E402
import run  # noqa: E402


def span(id_, name, start, end, parent=0):
    return {"id": id_, "name": name, "start": start, "end": end, "parent": parent, "run": 0}


def job(start, end, tasks=1, task_ms=10.0, shuffle=0.0, spill=0.0):
    return {"start": start, "end": end, "tasks": tasks, "task_ms": task_ms,
            "shuffle_bytes": shuffle, "spill_bytes": spill, "ok": True}


class PercentileRule(unittest.TestCase):
    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)
        self.assertIsNone(metrics.median([]))

    def test_nearest_rank(self):
        vals = list(range(1, 101))  # 1..100
        self.assertEqual(metrics.nearest_rank(vals, 90), 90)
        self.assertEqual(metrics.nearest_rank(vals, 50), 50)
        self.assertEqual(metrics.nearest_rank([5.0], 90), 5.0)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(list(range(99))))
        self.assertEqual(metrics.tail_percentile(list(range(1, 101))), (90.0, 90))
        self.assertEqual(metrics.tail_percentile(list(range(1, 1000))), (90.0, 900))
        self.assertEqual(metrics.tail_percentile(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(metrics.tail_percentile(list(range(1, 10001)))[0], 99.9)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_overlapping_nested(self):
        self.assertEqual(metrics.union_length([(0, 10), (20, 30)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)]), 15)
        self.assertEqual(metrics.union_length([(0, 30), (5, 10), (12, 20)]), 30)
        self.assertEqual(metrics.union_length([(5, 15), (0, 10), (10, 12)]), 15)
        self.assertEqual(metrics.union_length([]), 0)

    def test_clipping(self):
        self.assertEqual(metrics.union_length([(0, 10), (20, 30)], 5, 25), 10)
        self.assertEqual(metrics.union_length([(0, 10)], 10, 20), 0)

    def test_driver_time_is_span_minus_job_union(self):
        spans = [span(1, "sip.save", 100.0, 200.0)]
        jobs = [job(110, 150), job(140, 160), job(190, 230)]
        acc = metrics.span_metrics(spans, jobs, [])
        # jobs cover 110-160 and 190-200 of the span
        self.assertAlmostEqual(acc[1]["driver_ms"], 100 - 50 - 10)


class Attribution(unittest.TestCase):
    def test_innermost_open_span(self):
        spans = [span(1, "op", 0, 100), span(2, "text.probe", 10, 40, parent=1),
                 span(3, "text.stream_novel", 50, 90, parent=1)]
        self.assertEqual(metrics.attribute([5, 20, 45, 60, 95, 150], spans),
                         [1, 2, 1, 3, 1, None])

    def test_overlapping_jobs_go_to_the_span_open_at_their_start(self):
        # two jobs run at once (as under Par.both); the second starts after
        # the first span closed, and a third starts in another span
        spans = [span(1, "op", 0, 100), span(2, "sip.save", 10, 50, parent=1),
                 span(3, "rdf.turtle_write", 50, 90, parent=1)]
        jobs = [job(12, 70, tasks=2), job(15, 45, tasks=3), job(55, 80, tasks=5)]
        acc = metrics.span_metrics(spans, jobs, [])
        self.assertEqual((acc[2]["jobs"], acc[2]["tasks"]), (2, 5))
        self.assertEqual((acc[3]["jobs"], acc[3]["tasks"]), (1, 5))
        # the parent counts every job of its children
        self.assertEqual((acc[1]["jobs"], acc[1]["tasks"]), (3, 10))
        # overlap is counted once in driver time
        self.assertAlmostEqual(acc[2]["driver_ms"], 40 - (50 - 12))
        self.assertAlmostEqual(acc[3]["driver_ms"], 40 - (80 - 50))

    def test_millisecond_event_stamps(self):
        # a job stamped with the whole millisecond just before the span's
        # fractional start still belongs to it
        spans = [span(1, "op", 0, 100), span(2, "text.probe", 10.6, 20, parent=1)]
        self.assertEqual(metrics.attribute([10], spans), [2])

    def test_plan_time_follows_the_phase_start(self):
        spans = [span(1, "op", 0, 100), span(2, "text.probe", 10, 40, parent=1)]
        phases = [{"phase": "planning", "start": 12, "end": 15},
                  {"phase": "analysis", "start": 60, "end": 61}]
        acc = metrics.span_metrics(spans, [], phases)
        self.assertEqual(acc[2]["plan_ms"], 3)
        self.assertEqual(acc[1]["plan_ms"], 4)


class FailedFraction(unittest.TestCase):
    def test_failed_frac(self):
        self.assertEqual(metrics.failed_frac(10, 0), 0.0)
        self.assertEqual(metrics.failed_frac(4, 1), 0.25)
        self.assertEqual(metrics.failed_frac(0, 0), 1.0)

    def test_a_failed_run_is_not_correct(self):
        raw = self.gate_record()
        raw["failed"], raw["failures"] = 1, ["op 0: output check failed"]
        r = metrics.report(raw, traced=False, out=io.StringIO())
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (2, 1))

    def test_a_fatal_run_counts_one_failure(self):
        raw = self.gate_record()
        raw["attempted"], raw["failures"] = 0, ["fatal: IllegalStateException: x"]
        r = metrics.report(raw, traced=False, out=io.StringIO())
        self.assertFalse(r["correct"])
        self.assertEqual((r["attempted"], r["failed"]), (1, 1))

    @staticmethod
    def gate_record():
        return {"info": {"workload": "ingest_gate", "seed": 1, "cores": 4, "seconds": 1},
                "attempted": 2, "failed": 0, "failures": [],
                "samples": {"commit_ms": [1000.0, 1200.0, 3000.0], "lookup_ms": [500.0, 700.0],
                            "gate_call_ms": [8000.0], "round_ms": [9000.0, 11000.0]},
                "counters": {"gate.offered": 4000.0, "heap_live_mb": 300.0, "setup_s": 2.5},
                "sources": [], "spans": [], "jobs": [], "phases": []}


class Report(unittest.TestCase):
    def test_e2e_metrics(self):
        r = metrics.report(FailedFraction.gate_record(), traced=False, out=io.StringIO())
        self.assertTrue(r["correct"])
        m = r["metrics"]
        self.assertEqual(set(m), {k for k, _ in metrics.E2E_UNITS})
        self.assertEqual(m["op_p50_ms"], {"value": 1200.0, "unit": "ms"})
        self.assertEqual(m["round_s"]["value"], 10.0)
        self.assertEqual(m["items_per_s"]["value"], 500.0)
        self.assertEqual(m["setup_s"]["value"], 2.5)

    def test_an_operation_without_samples_is_not_correct(self):
        raw = FailedFraction.gate_record()
        del raw["samples"]["round_ms"]
        self.assertFalse(metrics.report(raw, traced=False, out=io.StringIO())["correct"])

    def test_traced_run_reports_every_layer_metric(self):
        raw = FailedFraction.gate_record()
        raw["spans"] = [span(1, "op", 0, 100), span(2, "text.probe", 10, 40, parent=1)]
        raw["jobs"] = [job(12, 30)]
        raw["samples"]["round_ms@traced"] = [12500.0]
        r = metrics.report(raw, traced=True, out=io.StringIO())
        names = {n + "." + m for n in metrics.SPANS for m, _ in metrics.SPAN_METRICS}
        names |= {n for n, _ in metrics.OTHER_LAYER_METRICS}
        self.assertEqual(set(r["metrics"]), names)
        self.assertEqual(r["metrics"]["text.probe.jobs"]["value"], 1.0)
        self.assertEqual(r["metrics"]["text.probe.driver_ms"]["value"], 12.0)
        # traced round 12500 ms against the untraced median 10000 ms
        self.assertAlmostEqual(r["metrics"]["trace.overhead_pct"]["value"], 25.0)

    def test_a_single_traced_operation_reports_callback_time(self):
        raw = FailedFraction.gate_record()
        raw["samples"] = {"round_ms@traced": [100.0]}
        raw["spans"] = [span(1, "op", 0, 100)]
        raw["counters"]["trace.callback_ms"] = 2.0
        r = metrics.report(raw, traced=True, out=io.StringIO())
        self.assertAlmostEqual(r["metrics"]["trace.overhead_pct"]["value"], 2.0)

    def test_names_and_units_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        raw = FailedFraction.gate_record()
        for traced, key in ((False, "end_to_end"), (True, "per_layer")):
            got = metrics.report(raw, traced=traced, out=io.StringIO())["metrics"]
            self.assertEqual({k: m["unit"] for k, m in got.items()},
                             {m["name"]: m["unit"] for m in bench[key]})


class RepeatCheck(unittest.TestCase):
    """Outputs that must repeat for a seed: the committed values and the
    first correct run in the checkout are kept; a mismatch never replaces
    them."""

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.saved = run.HERE, run.BUILD
        run.HERE, run.BUILD = self.tmp.name, os.path.join(self.tmp.name, "build")
        with open(os.path.join(run.HERE, "expected.json"), "w") as f:
            json.dump({"ingest_gate": {"1": {"kept_by_batch": {"0": 440}}}}, f)

    def tearDown(self):
        run.HERE, run.BUILD = self.saved
        self.tmp.cleanup()

    @staticmethod
    def raw(kept, digest=(5, 9)):
        return {"expect": {"kept_by_batch": kept, "prepare_rows_digest": list(digest)}}

    def test_committed_values_are_checked_on_the_first_run(self):
        self.assertEqual(run.check_repeats(self.raw({"0": 440}), "ingest_gate", 1, True), [])
        errors = run.check_repeats(self.raw({"0": 439}), "ingest_gate", 1, True)
        self.assertEqual(len(errors), 2)  # the committed value and the stored first run

    def test_a_mismatch_does_not_replace_the_stored_value(self):
        self.assertEqual(run.check_repeats(self.raw({"0": 1, "1": 2}), "ingest_gate", 7, True), [])
        self.assertEqual(len(run.check_repeats(self.raw({"1": 3}, (5, 8)), "ingest_gate", 7, True)), 2)
        # the third run agrees with the first, not with the mismatching second
        self.assertEqual(run.check_repeats(self.raw({"1": 2, "2": 4}), "ingest_gate", 7, True), [])
        self.assertEqual(len(run.check_repeats(self.raw({"2": 5}), "ingest_gate", 7, True)), 1)

    def test_a_failed_run_stores_nothing(self):
        run.check_repeats(self.raw({"0": 1}), "ingest_gate", 8, False)
        self.assertEqual(run.check_repeats(self.raw({"0": 2}), "ingest_gate", 8, True), [])


if __name__ == "__main__":
    unittest.main()
