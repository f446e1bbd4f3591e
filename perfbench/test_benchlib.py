"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The generator test builds the program (cached in .bench_build/) and runs
the JVM self-test."""

import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(benchlib.nearest_rank(xs, 50), (50, 50))
        self.assertEqual(benchlib.nearest_rank(xs, 90), (90, 10))
        self.assertEqual(benchlib.nearest_rank(xs, 100), (100, 0))
        self.assertEqual(benchlib.nearest_rank([7.0], 90), (7.0, 0))
        v, beyond = benchlib.nearest_rank([], 90)
        self.assertTrue(math.isnan(v))
        self.assertEqual(beyond, 0)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(benchlib.nearest_rank(xs, 50), benchlib.nearest_rank(sorted(xs), 50))

    def test_ten_beyond_rule(self):
        # p90 has >= 10 samples beyond it from n = 100 on, not before
        self.assertTrue(benchlib.tail(list(range(100)))["ok"])
        self.assertFalse(benchlib.tail(list(range(99)))["ok"])
        t = benchlib.tail(list(range(40)))
        self.assertEqual((t["n"], t["beyond"], t["ok"]), (40, 4, False))

    def test_end_to_end_counts(self):
        raw = {"op_ms": [100.0, 300.0, 200.0], "setup_s": [3.0, 1.0, 2.0], "first_op_s": 5.0,
               "rows": 600, "heap_after_gc_mb": 80.0}
        m = benchlib.end_to_end(raw)
        self.assertEqual(set(m), set(benchlib.END_TO_END))
        self.assertEqual(m["op_p50_ms"]["value"], 200.0)
        self.assertEqual(m["op_p50_ms"]["n"], 3)
        self.assertEqual(m["setup_s"]["value"], 2.0)
        self.assertEqual(m["setup_s"]["n"], 3)
        self.assertAlmostEqual(m["rows_per_s"]["value"], 1000.0)


class MetricNameTest(unittest.TestCase):
    def test_rule(self):
        for ok in ("op_p50_ms", "exec.task_cpu_s", "self_ms.graft.ta", "a-b", "9x"):
            self.assertTrue(benchlib.valid_metric_name(ok), ok)
        for bad in ("", "_x", ".x", "op p50", "ms/op", "x" * 65, "naïve", "a:b"):
            self.assertFalse(benchlib.valid_metric_name(bad), bad)

    def test_every_declared_name(self):
        for name in list(benchlib.END_TO_END) + list(benchlib.PER_LAYER):
            self.assertTrue(benchlib.valid_metric_name(name), name)

    def test_benchmark_json_matches(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([m["name"] for m in spec["end_to_end"]], list(benchlib.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, benchlib.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(benchlib.WORKLOADS))


class SpanTest(unittest.TestCase):
    spans = [
        {"id": 1, "parent": 0, "name": "op", "op": 0, "start_ms": 0.0, "end_ms": 100.0,
         "counts": {"jobs": 0, "driver_self_ms": 40.0}, "incl": {"codegen_ms": 12.0, "codegen_classes": 3}},
        {"id": 2, "parent": 1, "name": "ta.build", "op": 0, "start_ms": 5.0, "end_ms": 35.0,
         "counts": {"analysis_ms": 20.0}, "incl": {}},
        {"id": 3, "parent": 1, "name": "sql.execute", "op": 0, "start_ms": 35.0, "end_ms": 95.0,
         "counts": {"jobs": 2, "tasks": 8, "min_tasks": 2, "task_cpu_ms": 500.0}, "incl": {}},
        {"id": 4, "parent": 0, "name": "op", "op": 1, "start_ms": 200.0, "end_ms": 260.0,
         "counts": {"driver_self_ms": 20.0}, "incl": {"codegen_ms": 0.0, "codegen_classes": 0}},
        {"id": 5, "parent": 4, "name": "sql.execute", "op": 1, "start_ms": 200.0, "end_ms": 250.0,
         "counts": {"jobs": 1, "tasks": 4, "min_tasks": 4}, "incl": {}},
    ]

    def test_self_time(self):
        st = benchlib.self_times(self.spans)
        self.assertEqual(st, {1: 10.0, 2: 30.0, 3: 60.0, 4: 10.0, 5: 50.0})

    def test_layer_metrics(self):
        m, n = benchlib.span_metrics(self.spans)
        self.assertEqual(n, 2)
        self.assertEqual(m["self_ms.client"], 10.0)
        self.assertEqual(m["self_ms.graft.ta"], 15.0)
        self.assertEqual(m["self_ms.sql"], 55.0)
        self.assertEqual(m["self_ms.graft.streaming"], 0.0)
        self.assertEqual(m["ta.build_ms"], 15.0)
        self.assertEqual(m["ta.build_calls"], 0.5)
        self.assertEqual(m["exec.jobs"], 1.5)
        self.assertEqual(m["exec.tasks"], 6.0)
        self.assertEqual(m["exec.min_tasks_per_stage"], 2)
        self.assertEqual(m["exec.task_cpu_s"], 0.25)
        self.assertEqual(m["sql.analysis_ms"], 10.0)
        self.assertEqual(m["driver.self_ms"], 30.0)
        self.assertEqual(m["sql.codegen_ms"], 6.0)
        self.assertEqual(m["trace.spans_per_op"], 2.5)

    def test_per_layer_prints_every_metric(self):
        raw = {"layer": {"stream.emit_ratio": 1.0}, "traced_op_ms": [110.0, 90.0], "op_ms": [110.0, 100.0, 90.0],
               "untraced_op_ms": [100.0], "failed": 0, "attempted": 3}
        m = benchlib.per_layer(raw, self.spans)
        self.assertEqual(set(m), set(benchlib.PER_LAYER))
        self.assertEqual(m["stream.emit_ratio"]["value"], 1.0)
        self.assertEqual(m["dedup.pairs"]["value"], 0.0)
        self.assertAlmostEqual(m["trace.overhead_pct"]["value"], 0.0)
        self.assertEqual((m["op_p90_ms"]["value"], m["op_p90_ms"]["n"], m["op_p90_ms"]["beyond"]), (110.0, 3, 0))

    def test_result_line_keys(self):
        line = benchlib.result_line(True, 3, 0, {"op_p50_ms": {"value": 1.5, "unit": "ms", "n": 3}})
        self.assertEqual(list(line), ["correct", "attempted", "failed", "metrics"])
        self.assertEqual(line["metrics"], {"op_p50_ms": {"value": 1.5, "unit": "ms"}})


class GeneratorTest(unittest.TestCase):
    def test_seeded_generators(self):
        import run
        classpath, _ = run.build()
        tmp = os.path.join(run.BUILD, "tmp", "selftest-%d" % os.getpid())
        os.makedirs(tmp, exist_ok=True)
        cmd = run.java_cmd(classpath, tmp, "perfbench.GenSelfTest", [])
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=120, cwd=run.ROOT)
        os.rmdir(tmp)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr[-2000:])
        lines = [l for l in out.stdout.splitlines() if "same_seed_equal" in l]
        self.assertEqual(len(lines), 4, out.stdout)
        for line in lines:
            self.assertIn("same_seed_equal=true other_seed_differs=true", line)


if __name__ == "__main__":
    unittest.main()
