"""Tests of the benchmark's own logic (no JVM needed).

Run from the repository root: python3 -m unittest discover layerbench/tests
"""
import json
import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


class TailTest(unittest.TestCase):
    def test_fewer_than_twenty_samples_give_the_maximum(self):
        self.assertEqual(run.tail(list(range(1, 20))), (100, 19, 19))

    def test_twenty_samples_give_the_median(self):
        p, v, n = run.tail(list(range(1, 21)))
        self.assertEqual((p, v, n), (50, 10, 20))

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        # p90 is value 90 with ten samples beyond; p95 has only five.
        self.assertEqual(run.tail(xs), (90, 90, 100))
        self.assertEqual(run.tail(list(range(1, 1001)))[0], 99)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0] * 10
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))

    def test_empty(self):
        self.assertEqual(run.tail([]), (100, 0.0, 0))


class StreamLagTest(unittest.TestCase):
    def batch(self, i, commit, oldest_due, rows=3):
        return {"id": i, "commit": commit, "oldest_due": oldest_due,
                "loop_rows": rows}

    def test_one_sample_per_batch_from_its_oldest_row(self):
        batches = [self.batch(2, 900.0, 400.0), self.batch(1, 500.0, 0.0)]
        self.assertEqual(run.stream_batch_lags(batches, 0.0), [500.0, 500.0])

    def test_warm_up_and_empty_batches_are_left_out(self):
        batches = [self.batch(1, 500.0, 50.0), self.batch(2, 900.0, 400.0),
                   self.batch(3, 950.0, 900.0, rows=0)]
        self.assertEqual(run.stream_batch_lags(batches, 100.0), [500.0])



class PassTest(unittest.TestCase):
    def test_a_warm_pass_is_the_sum_of_its_operations(self):
        rec = {"workload": "registry_mix", "ops": [
            {"kind": "query", "phase": "cold", "pass": 0, "start": 0, "end": 9},
            {"kind": "query", "phase": "warm", "pass": 2, "start": 0, "end": 2},
            {"kind": "query", "phase": "warm", "pass": 2, "start": 5, "end": 8},
            {"kind": "query", "phase": "warm", "pass": 1, "start": 0, "end": 4},
            {"kind": "query", "phase": "warmup", "pass": 3, "start": 0,
             "end": 7}]}
        self.assertEqual(run.warm_latencies(rec), [4, 5])
        self.assertEqual(run.cold_s(rec), 9 / 1e3)

    def test_the_warm_samples_of_etl_paths_are_warm_imports(self):
        rec = {"workload": "etl_paths", "ops": [
            {"kind": "import", "phase": "cold", "pass": 0, "start": 0,
             "end": 900},
            {"kind": "import", "phase": "warmup", "pass": 1, "start": 0,
             "end": 500},
            {"kind": "import", "phase": "warm", "pass": 2, "start": 0,
             "end": 300},
            {"kind": "request", "start": 0, "end": 50}]}
        self.assertEqual(run.warm_latencies(rec), [300])
        self.assertEqual(run.cold_s(rec), 0.9)


def span(i, parent, start, end, name="x"):
    return i, {"id": i, "parent": parent, "start": start, "end": end,
               "name": name}


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once_when_they_overlap(self):
        spans = dict([span(1, 0, 0, 100), span(2, 1, 10, 40),
                      span(3, 1, 30, 60), span(4, 2, 15, 20)])
        st = run.self_times(spans)
        self.assertEqual(st[1], 50)   # 100 minus the union [10, 60]
        self.assertEqual(st[2], 25)   # 30 minus its child's 5
        self.assertEqual(st[3], 30)
        self.assertEqual(st[4], 5)

    def test_child_outside_its_parent_is_clipped(self):
        spans = dict([span(1, 0, 0, 10), span(2, 1, 8, 30)])
        self.assertEqual(run.self_times(spans)[1], 8)

    def test_union(self):
        self.assertEqual(run.union_ms([(0, 5), (3, 8), (10, 12)]), 10)
        self.assertEqual(run.union_ms([]), 0)

    def test_derived_job_is_attributed_to_the_innermost_span(self):
        rec = {"spans": [
            {"id": 1, "parent": 0, "op": 1, "name": "query",
             "start": 0.0, "end": 100.0},
            {"id": 2, "parent": 1, "op": 1, "name": "queries.build",
             "start": 0.0, "end": 40.0},
            {"id": 3, "parent": 1, "op": 1, "name": "exec",
             "start": 40.0, "end": 100.0}],
            "jobs": [{"start": 5.0, "end": 20.0, "shared_stage": False},
                     {"start": 22.0, "end": 30.0, "shared_stage": True},
                     {"start": 50.0, "end": 90.0, "shared_stage": False}]}
        spans = run.build_spans(rec)
        names = sorted((s["name"], spans[s["parent"]]["name"])
                       for s in spans.values() if s.get("derived"))
        self.assertEqual(names, [("eager_job", "queries.build"),
                                 ("job", "exec"),
                                 ("shared_stage_job", "queries.build")])


class VerdictTest(unittest.TestCase):
    def rec(self, got):
        return {"workload": "w",
                "ops": [{"kind": "request", "ok": True,
                         "check": {"name": "payload", "got": got}}],
                "checks": [{"name": "q", "got": "3:abc"},
                           {"name": "inline", "got": "0", "want": "0"}]}

    def test_matching_outputs_pass(self):
        pins = {"w": {"payload": "sha1", "q": "3:abc"}}
        self.assertEqual(run.verdict(self.rec("sha1"), pins), (3, 0, []))

    def test_a_wrong_output_counts_as_a_failure(self):
        pins = {"w": {"payload": "sha1", "q": "3:abc"}}
        self.assertEqual(run.verdict(self.rec("other"), pins),
                         (3, 1, ["payload"]))

    def test_a_missing_pin_counts_as_a_failure(self):
        self.assertEqual(run.verdict(self.rec("sha1"), {}),
                         (3, 2, ["payload", "q"]))

    def test_a_failed_operation_and_stream_rows_count(self):
        rec = self.rec("sha1")
        rec["ops"][0]["ok"] = False
        rec["stream"] = {"rows": 10, "failed_rows": 2}
        pins = {"w": {"payload": "sha1", "q": "3:abc"}}
        self.assertEqual(run.verdict(rec, pins)[:2], (13, 3))

    def test_pins_are_collected_from_a_run(self):
        self.assertEqual(run.collect_pins(self.rec("sha1")),
                         {"payload": "sha1", "q": "3:abc"})


class NamesTest(unittest.TestCase):
    def test_metric_names_and_units_are_valid(self):
        for table in (run.END_TO_END, run.PER_LAYER):
            for name, unit in table.items():
                self.assertRegex(name, NAME)
                self.assertRegex(unit, UNIT)
        self.assertFalse(set(run.END_TO_END) & set(run.PER_LAYER))

    def test_benchmark_json_matches_the_script(self):
        with open(BENCHMARK) as fh:
            b = json.load(fh)
        self.assertEqual([w["name"] for w in b["workloads"]],
                         list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.PER_LAYER)
        for m in b["end_to_end"] + b["per_layer"] + b["workloads"]:
            self.assertRegex(m["name"], NAME)

    def test_every_span_layer_is_a_known_layer(self):
        self.assertTrue(set(run.SPAN_LAYER.values()) <= set(run.LAYERS))


if __name__ == "__main__":
    unittest.main()
