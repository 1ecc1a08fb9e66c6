"""Self-tests of the benchmark's own arithmetic and checks."""
import json
import os
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import oracle  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        xs = list(range(1, 201))  # 1..200
        self.assertEqual(metrics.percentile(xs, 95), (190, 200, 10))
        self.assertEqual(metrics.percentile(xs, 50), (100, 200, 100))

    def test_order_and_small_samples(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 50), (3, 3, 1))
        # 48 requests, two rounds of serve_endpoints: p75 is the 36th value,
        # the highest percentile with at least ten samples beyond it
        value, n, beyond = metrics.percentile(list(range(48, 0, -1)), 75)
        self.assertEqual((value, n, beyond), (36, 48, 12))
        self.assertLess(metrics.percentile(range(48), 80)[2], 10)

    def test_failed_requests_miss_every_limit(self):
        call = lambda ms, ok: {"ms": ms, "ok": ok}
        result = {"calls": [call(10.0, True), call(1.0, False)], "timed_ms": 500.0,
                  "setup_ms": 1000, "round_ms": [500.0], "vmhwm_kb": 1024}
        m, notes = metrics.end_to_end(result)
        self.assertEqual(m["latency_p75_ms"][0], 500.0)
        self.assertEqual(m["ops_per_s"][0], 2.0)
        self.assertEqual(notes["latency_samples"], 2)


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start_ns": a, "end_ns": b}


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 30), span(3, 1, 40, 90),
                 span(4, 3, 50, 60)]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 30, 2: 20, 3: 40, 4: 10})

    def test_overlapping_and_clipped_children(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 50), span(3, 1, 40, 70),
                 span(4, 1, 90, 120)]
        self.assertEqual(metrics.self_times(spans)[1], 100 - 60 - 10)


class OracleCheck(unittest.TestCase):
    def result(self, path):
        call = lambda op: {"op": op, "ok": True, "digest": "d-" + op, "error": "",
                           "ms": 1.0, "rows": 2}
        return {"references": {"good": {"digest": "d-good", "path": path},
                               "bad": {"digest": "d-bad", "path": path}},
                "calls": [call("good"), call("bad"), call("bad")]}

    def test_wrong_oracle_result_is_a_failure(self):
        with tempfile.TemporaryDirectory() as d:
            out = os.path.join(d, "out")
            os.makedirs(out)
            got = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
            got.to_parquet(os.path.join(out, "part-0.parquet"))
            read = oracle.read_output(out)
            right = got.copy()
            wrong = got.copy()
            wrong.loc[1, "v"] = 1.25  # the injected wrong oracle value
            errors = {"good": oracle.compare(read, right), "bad": oracle.compare(read, wrong)}
            self.assertIsNone(errors["good"])
            self.assertIn("column v differs at row 1", errors["bad"])
            attempted, failed, failures = metrics.check_calls(self.result(out), errors)
            self.assertEqual((attempted, failed), (3, 2))
            self.assertEqual(list(failures), ["bad"])

    def test_throw_and_changed_rows_fail(self):
        r = self.result("unused")
        r["calls"][0]["ok"] = False
        r["calls"][0]["error"] = "boom"
        r["calls"][1]["digest"] = "other"
        _, failed, failures = metrics.check_calls(r, {})
        self.assertEqual(failed, 2)
        self.assertTrue(failures["good"].startswith("threw"))
        self.assertEqual(failures["bad"], "rows differ from the first output")

    def test_arrays_and_nulls_compare_by_value(self):
        a = pd.DataFrame({"x": [[1.0, 2.0], None], "y": ["a", None]})
        b = pd.DataFrame({"y": ["a", None], "x": [(1.0, 2.0), None]})
        self.assertIsNone(oracle.compare(a, b))
        b.loc[0, "y"] = "b"
        self.assertIsNotNone(oracle.compare(a, b))


class MetricNames(unittest.TestCase):
    """The metrics a run prints are the ones BENCHMARK.json declares."""

    def test_names_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("BENCHMARK.json not found")
        with open(path) as f:
            bench = json.load(f)
        call = {"op": "q", "ok": True, "ms": 5.0, "rows": 3, "join_rows": 6, "digest": "d"}
        result = {
            "workload": "w", "cores": 4, "setup_ms": 1000, "timed_ms": 10.0,
            "round_ms": [10.0], "traced_round_ms": [11.0], "traced_ms": 11.0,
            "vmhwm_kb": 2048, "calls": [call], "traced_calls": [call],
            "traced_gc_ms": 1, "income_boot_ms": 0.0, "income_boot_traced_ms": 2.0,
            "traced_jvm": {"cpu_ms": 40, "jit_ms": 7, "gc_ms": 1, "codegen_compiles": 2},
            "model_read_ms": {"events": 1.5},
            "spans": [span(1, 0, 0, 10), dict(span(2, 1, 0, 4), name="construct", op="q"),
                      dict(span(3, 1, 4, 5), name="plan", op="q"),
                      dict(span(4, 1, 5, 10), name="execute", op="q")],
            "tallies": {"w|q|execute": {f: 1 for f in (
                "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
                "executor_cpu_ms", "task_wait_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes", "input_bytes")}}}
        for s in result["spans"]:
            s.setdefault("name", "request")
            s.setdefault("op", "q")
        e2e, _ = metrics.end_to_end(result)
        layers, _ = metrics.per_layer(result, lambda op: "operators")
        for kind, got in (("end_to_end", e2e), ("per_layer", layers)):
            declared = {m["name"]: m["unit"] for m in bench[kind]}
            self.assertEqual(declared, {k: u for k, (_, u) in got.items()}, kind)


if __name__ == "__main__":
    unittest.main()
