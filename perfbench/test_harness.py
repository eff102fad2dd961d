"""Tests of the benchmark harness itself (not of the program it measures):

    python3 perfbench/test_harness.py

The metric rules run in plain Python. The digest and the failed-query
accounting live in the JVM harness; their test builds it (once per
checkout) and runs perfbench.SelfTest.
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


def span(i, parent, start, end, name="x"):
    return {"id": i, "parent": parent, "name": name, "tag": "",
            "startMs": start, "endMs": end, "ok": True}


class PercentileRule(unittest.TestCase):
    def test_hundred_samples_support_p90(self):
        self.assertEqual(metrics.tail_percentile(range(1, 101)), (90, 90))

    def test_highest_percentile_with_ten_beyond(self):
        p, v = metrics.tail_percentile(range(1, 151))
        self.assertEqual(p, 93)
        self.assertEqual(sum(x > v for x in range(1, 151)), 10)

    def test_too_few_samples_for_even_the_median(self):
        self.assertIsNone(metrics.tail_percentile(range(19)))
        self.assertEqual(metrics.tail_percentile(range(1, 21)), (50, 10))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail_percentile(reversed(xs)),
                         metrics.tail_percentile(xs))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
                 span(4, 1, 90, 120)]  # the last one overruns its parent
        st = metrics.self_times(spans)
        self.assertEqual(st[1], 100 - (60 - 10) - (100 - 90))
        self.assertEqual(st[2], 30)

    def test_grandchildren_are_the_childs_not_the_parents(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 0, 50), span(3, 2, 0, 50)]
        st = metrics.self_times(spans)
        self.assertEqual((st[1], st[2], st[3]), (50, 0, 50))

    def test_self_times_sum_to_root_duration(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 5, 45), span(3, 2, 10, 20),
                 span(4, 1, 50, 99)]
        self.assertAlmostEqual(sum(metrics.self_times(spans).values()), 100)


class LayerSplit(unittest.TestCase):
    def test_differences_are_paired_within_a_round(self):
        # a slow second round shifts all three variants; paired
        # differences ignore it, where differences of medians would not
        rounds = [{"scan_ms": 400, "enrich_ms": 300, "sink_ms": 500},
                  {"scan_ms": 900, "enrich_ms": 320, "sink_ms": 480},
                  {"scan_ms": 410, "enrich_ms": 310, "sink_ms": 520}]
        self.assertEqual(metrics.layer_split(rounds), (0.41, 0.31, 0.5))


class FailedOperations(unittest.TestCase):
    def raw(self):
        ok = {"kind": "query", "name": "a", "group": "g", "ok": True, "ms": 100.0,
              "units": 1, "parts": {}, "error": ""}
        bad = dict(ok, name="b", ok=False, ms=0.0, error="boom")
        return {"workload": "registry_mix", "setup_s": [3.0],
                "heap_peak_mb": [100.0, 300.0], "ops": [ok, bad, dict(ok, ms=300.0)],
                "checks": [{"name": "c", "ok": False, "detail": "x"},
                           {"name": "d", "ok": True, "detail": ""}],
                "extra": {"pass_ms": [400.0]}}

    def test_failures_count_against_attempts(self):
        attempted, failed, ok = metrics.op_summary(self.raw())
        self.assertEqual((attempted, failed, len(ok)), (5, 2, 2))

    def test_failed_ops_are_left_out_of_timings(self):
        m = metrics.end_to_end(self.raw())
        self.assertEqual(m["p50_ms"], 200.0)
        self.assertEqual(m["throughput_per_s"], 2 / 0.4)
        self.assertEqual(m["peak_heap_mb"], 200.0)

    def test_failed_etl_run_is_left_out(self):
        run = {"kind": "etl_run", "name": "r", "group": "", "ok": True, "ms": 2000.0,
               "units": 1000, "parts": {"sql1_ms": 50.0, "sql2_ms": 40.0}, "error": ""}
        raw = {"workload": "orders_etl", "setup_s": [1.0, 2.0, 9.0], "heap_peak_mb": [1.0],
               "ops": [run, dict(run, ok=False, ms=0.0, parts={}),
                       dict(run, ms=1000.0, parts={"sql1_ms": 70.0, "sql2_ms": 80.0})],
               "checks": [], "extra": {}}
        m = metrics.end_to_end(raw)
        self.assertEqual(m["throughput_per_s"], 750.0)  # median of 500/s, 1000/s
        self.assertEqual((m["p50_ms"], m["setup_s"]), (60.0, 2.0))  # of 40, 50, 70, 80

    def test_nothing_succeeded_gives_no_metrics(self):
        raw = self.raw()
        raw["ops"] = [o for o in raw["ops"] if not o["ok"]]
        self.assertIsNone(metrics.end_to_end(raw))


class BenchmarkFile(unittest.TestCase):
    def test_lists_every_metric_the_harness_prints(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"], m["better"], m["bound"])
                          for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))


class JvmHarness(unittest.TestCase):
    def test_digest_and_failed_query_accounting(self):
        cp = run.build()
        work = os.path.join(run.ROOT, ".bench_work", "selftest")
        os.makedirs(work, exist_ok=True)
        try:
            cmd = (["java", "-Xmx1g"]
                   + [x for p in run.ADD_OPENS for x in ("--add-opens", p)]
                   + [f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.SelfTest"])
            p = subprocess.run(cmd, cwd=work, capture_output=True, text=True,
                               timeout=170, env=dict(os.environ, SPARK_LOCAL_DIRS=work))
            self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-3000:])
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
