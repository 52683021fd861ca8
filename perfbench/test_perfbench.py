#!/usr/bin/env python3
"""Self-tests of the benchmark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The metric tests need nothing but Python. TruthModelTest compiles the
benchmark (as run.py does) and runs perfbench.SelfTest: the truth model
against the reference's deletion matrix and the generator's determinism
per seed. It is skipped when no Spark distribution is found.
"""

import contextlib
import io
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402


def raw_run(samples, failed=0, workload="point_read", phases=1, layers=None):
    """A raw JVM result shaped like perfbench.Main writes it."""
    phase = {"name": "untraced", "loop_s": 10.0, "heap_peak_mb": 512.0, "gc_ms": 3,
             "attempted": len(samples), "failed": failed, "samples": {"op": samples},
             "values": {"throughput_per_s": 2.5}}
    raw = {"workload": workload, "attempted": len(samples), "failed": failed,
           "heap_live_mb": 300.0,
           "setup": {"session_s": 5.0, "builds_s": [9.0, 4.0, 3.0], "warmup_s": 2.0},
           "phases": [dict(phase, name="untraced" if i == 0 else "traced")
                      for i in range(phases)]}
    if layers is not None:
        raw["layers"] = layers
    return raw


class TailPercentileTest(unittest.TestCase):

    def test_highest_percentile_with_ten_beyond(self):
        cases = {0: None, 10: None, 19: None, 20: 50.0, 39: 50.0, 40: 75.0, 99: 75.0,
                 100: 90.0, 199: 90.0, 200: 95.0, 999: 95.0, 1000: 99.0, 10000: 99.9}
        for n, p in cases.items():
            self.assertEqual(metrics.tail_percentile(n), p, "n=%d" % n)

    def test_each_workload_tail_is_fixed_at_its_run_length(self):
        self.assertEqual(metrics.workload_tail("point_read"), 50.0)
        self.assertEqual(metrics.workload_tail("ingest_compact"), 50.0)
        self.assertEqual(metrics.workload_tail("dedup_batch"), 50.0)
        for w, n in metrics.EXPECTED_SAMPLES.items():
            self.assertEqual(metrics.workload_tail(w), metrics.tail_percentile(n) or 50.0)

    def test_ten_samples_lie_beyond_the_chosen_percentile(self):
        for n in range(20, 3000, 7):
            p = metrics.tail_percentile(n)
            xs = list(range(n))
            v = metrics.quantile(xs, p)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, "n=%d" % n)

    def test_nearest_rank(self):
        xs = [1.0, 2.0, 3.0, 4.0]
        self.assertEqual(metrics.quantile(xs, 50), 2.0)
        self.assertEqual(metrics.quantile(xs, 75), 3.0)
        self.assertEqual(metrics.quantile(xs, 100), 4.0)

    def test_failures_sort_last_and_miss_every_limit(self):
        p50, tail, n, beyond = metrics.latency([5.0] * 15 + [None] * 25, 75.0)
        self.assertEqual((n, beyond), (40, 10))
        self.assertIsNone(p50)
        self.assertIsNone(tail)


class EdgeConfigTest(unittest.TestCase):
    """Every config still prints every metric by name."""

    def names(self, line):
        return [k for k in line["metrics"]]

    def test_tracing_off_prints_every_end_to_end_metric(self):
        line, _ = metrics.summarize(raw_run([10.0] * 30), trace=False)
        self.assertEqual(self.names(line), [n for n, _ in metrics.END_TO_END])
        self.assertTrue(line["correct"])
        self.assertTrue(all(m["value"] is not None for m in line["metrics"].values()))
        self.assertEqual(line["metrics"]["setup_s"]["value"], 5.0 + 4.0 + 2.0)

    def test_zero_completed_requests(self):
        line, report = metrics.summarize(raw_run([]), trace=False)
        self.assertEqual(self.names(line), [n for n, _ in metrics.END_TO_END])
        self.assertFalse(line["correct"])
        self.assertIsNone(line["metrics"]["op_p50_ms"]["value"])
        self.assertIn("failed_ratio", report["metrics"])

    def test_every_request_failing(self):
        line, report = metrics.summarize(raw_run([None] * 12, failed=12), trace=False)
        self.assertEqual(self.names(line), [n for n, _ in metrics.END_TO_END])
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (12, 12))
        self.assertEqual(report["metrics"]["failed_ratio"]["value"], 1.0)

    def test_empty_result(self):
        for trace in (False, True):
            line, _ = metrics.summarize({}, trace=trace)
            want = metrics.PER_LAYER if trace else metrics.END_TO_END
            self.assertEqual(self.names(line), [n for n, _ in want])
            self.assertFalse(line["correct"])

    def test_traced_run_prints_every_layer_and_the_overhead(self):
        layers = {n: 1.0 for n, _ in metrics.PER_LAYER if not n.startswith("trace.")}
        line, _ = metrics.summarize(raw_run([10.0] * 30, phases=2, layers=layers), trace=True)
        self.assertEqual(self.names(line), [n for n, _ in metrics.PER_LAYER])
        self.assertTrue(line["correct"])
        self.assertEqual(line["metrics"]["trace.overhead.op_p50_ms"]["value"], 0.0)

    def test_result_line_is_json_with_the_four_keys(self):
        line, _ = metrics.summarize(raw_run([1.5] * 25), trace=False)
        self.assertEqual(sorted(json.loads(json.dumps(line))),
                         ["attempted", "correct", "failed", "metrics"])


class FailedRunTest(unittest.TestCase):
    """run.py reports a run that crashed or timed out, then exits non-zero."""

    def drive(self, raw, rc, trace):
        import run
        saved = (run.spark_jars, run.build, run.run_jvm)
        run.spark_jars = lambda root: root
        run.build = lambda root, out_dir, jars: ("classes.jar", False)
        run.run_jvm = lambda *a: (raw, rc)
        out = io.StringIO()
        cwd = os.getcwd()
        with tempfile.TemporaryDirectory() as d:
            os.chdir(d)
            try:
                with contextlib.redirect_stdout(out), contextlib.redirect_stderr(io.StringIO()):
                    with self.assertRaises(SystemExit) as e:
                        run.main(["--workload", "point_read", "--seed", "1", "--seconds", "8",
                                  "--trace", str(trace)])
            finally:
                os.chdir(cwd)
                run.spark_jars, run.build, run.run_jvm = saved
        self.assertNotEqual(e.exception.code, 0)
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def test_fatal_and_timeout_still_print_every_metric(self):
        for raw, rc in (({"fatal": "java.lang.OutOfMemoryError: Java heap space"}, 1),
                        ({"fatal": "timed out after 160 s"}, "timeout"),
                        (dict(raw_run([10.0] * 30), fatal="IllegalStateException"), 0)):
            for trace in (0, 1):
                line = self.drive(raw, rc, trace)
                want = metrics.PER_LAYER if trace else metrics.END_TO_END
                self.assertEqual(list(line["metrics"]), [n for n, _ in want])
                self.assertFalse(line["correct"])


class BenchmarkFileTest(unittest.TestCase):

    def test_metric_sets_match_benchmark_json(self):
        bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]],
                         list(metrics.END_TO_END))
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]],
                         list(metrics.PER_LAYER))
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        self.assertEqual(max(bounds.values()), bounds["setup_s"])


class TruthModelTest(unittest.TestCase):

    def test_scala_selftest(self):
        import run
        try:
            jars = run.spark_jars(ROOT)
        except SystemExit:
            self.skipTest("no Spark distribution")
        jar, _ = run.build(ROOT, os.path.join(ROOT, ".bench_build", "perfbench"), jars)
        r = subprocess.run(["java", "-cp", jar + os.pathsep + os.path.join(jars, "*"),
                            "perfbench.SelfTest"], stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stdout)
        self.assertIn("cases passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
