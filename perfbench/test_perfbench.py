#!/usr/bin/env python3
"""Self-tests of the benchmark's own measurement code.

    python3 perfbench/test_perfbench.py

The attribution test compiles the program like a benchmark run does and
starts one small Spark JVM (about 20 s).
"""
import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import unittest  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_keeps_ten_samples_beyond_and_reports_count(self):
        rng = random.Random(7)
        for n in range(11, 400):
            xs = [rng.random() for _ in range(n)]
            p = metrics.tail_percentile(n)
            t = metrics.percentile(xs, p)
            self.assertEqual(t["n"], n)
            self.assertGreaterEqual(t["beyond"], 10)
            self.assertEqual(t["beyond"], sum(1 for x in xs if x > t["value"]))
            # the next percentile up would leave fewer than ten beyond
            self.assertLess(metrics.percentile(xs, p + 1)["beyond"], 10)

    def test_every_workload_tail_keeps_ten_beyond(self):
        for wl in run.WORKLOADS.values():
            n = wl["samples"]
            t = metrics.percentile(range(n), metrics.tail_percentile(n))
            self.assertGreaterEqual(t["beyond"], 10)
            self.assertEqual(n % len(wl["queries"]), 0)  # whole passes

    def test_short_sample_is_refused_or_reported(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile(10)
        t = metrics.percentile([3.0, 1.0, 2.0, 4.0], 68)
        self.assertEqual((t["value"], t["n"], t["beyond"]), (3.0, 4, 1))
        self.assertEqual(t["beyond_mean"], 4.0)


class Schedule(unittest.TestCase):
    def test_seed_fixes_order_and_heavy_queries_keep_their_places(self):
        for wl, spec in run.WORKLOADS.items():
            a, b = run.schedule(wl, 5), run.schedule(wl, 5)
            self.assertEqual(a, b)
            self.assertNotEqual(a, run.schedule(wl, 6))
            for p in a:
                self.assertEqual(sorted(p), sorted(spec["queries"]))
        for p in run.schedule("mixed_concurrent", 5):
            heavy = [(i, q) for i, q in enumerate(p) if q in run.LLM]
            self.assertEqual(heavy, list(zip((0, 3, 6, 10), run.LLM)))


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        children = [(1, 4), (3, 6), (8, 9), (9.5, 12)]
        # covered: [1,6] + [8,9] + [9.5,10] (clipped to the span) = 6.5
        self.assertAlmostEqual(metrics.self_time((0, 10), children), 3.5)

    def test_nested_duplicates_and_empty(self):
        self.assertAlmostEqual(
            metrics.self_time((0, 10), [(2, 8), (3, 4), (2, 8)]), 4.0)
        self.assertAlmostEqual(metrics.self_time((0, 10), []), 10.0)


class EndToEnd(unittest.TestCase):
    # two queries a pass, two clients, a 5 s window from t=10: runs 0-3
    # are the two whole passes; run 4 begins the pass the deadline cuts
    RUNS = [(0, 10.0, 11.0), (1, 10.0, 14.0), (2, 11.0, 12.0),
            (3, 12.0, 13.5), (4, 13.5, 19.0)]

    def raw(self, runs):
        return {"execs": [{"index": i, "name": "ab"[i % 2], "start": s,
                           "end": e, "error": None} for i, s, e in runs],
                "window": {"start": 10.0, "seconds": 5},
                "setup": {"jvm_to_main_s": 1, "session_s": 2, "warmup_s": 3},
                "peak_rss_mb": 900.0, "window_heap_after_gc_mb": [50.0, 70.0],
                "window_non_heap_mb": 30.0}

    def test_metrics_of_the_whole_passes(self):
        e2e, tail = metrics.end_to_end(self.raw(self.RUNS), ["a", "b"], 50)
        # the next pass began at 13.5, while run 1 still ran
        self.assertAlmostEqual(e2e["sweep_s"], (13.5 - 10.0) / 2)
        # runs 0-3 ended inside the window, run 4 after it
        self.assertAlmostEqual(e2e["throughput_qpm"], 60.0 * 4 / 5)
        # latencies 1, 4, 1, 1.5: p50 is 1, and 1.5 and 4 lie beyond it
        self.assertEqual((tail["n"], tail["value"], tail["beyond"]), (4, 1.0, 2))
        self.assertAlmostEqual(e2e["query_tail_s"], (1.5 + 4.0) / 2)
        self.assertAlmostEqual(e2e["query_p50_s"], 1.25)
        self.assertEqual(e2e["setup_s"], 6)
        self.assertEqual(e2e["peak_live_mb"], 100.0)

    def test_sweep_without_a_next_pass_ends_with_the_last_run(self):
        e2e, _ = metrics.end_to_end(self.raw(self.RUNS[:4]), ["a", "b"], 50)
        self.assertAlmostEqual(e2e["sweep_s"], (14.0 - 10.0) / 2)


class DataCopy(unittest.TestCase):
    def test_copy_matches_its_sums_and_the_source(self):
        run.check_layout()  # the copy in perfbench/data matches its sums
        # the source: the sf0.1 directory graft.Bench reads by default
        with open(os.path.join(run.ROOT, "src/main/scala/graft/Bench.scala")) as f:
            src = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read()).group(1)
        if not os.path.isdir(src):
            self.skipTest("source data %s not present" % src)
        self.assertEqual(sorted(os.listdir(src)), sorted(run.data_sums()))
        for name, h in run.data_sums().items():
            self.assertEqual(run.sha256_file(os.path.join(src, name)), h, name)


class Attribution(unittest.TestCase):
    def test_planted_job_lands_in_its_clients_job_group(self):
        run.check_layout()
        cp = run.build()
        d = os.path.join(run.WORK, "selftest")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        out = os.path.join(d, "selftest.json")
        try:
            run.run_jvm(cp, "perfbench.SelfTest", [out], d)
            with open(out) as f:
                raw = json.load(f)
        finally:
            shutil.rmtree(os.path.join(d, "tmp"), ignore_errors=True)
        slow, planted = raw["execs"]
        self.assertEqual((slow["error"], planted["error"]), (None, None))
        groups = {j["group"] for j in raw["jobs"]}
        self.assertEqual(groups, {slow["group"], planted["group"]})
        mine = [j for j in raw["jobs"] if j["group"] == planted["group"]]
        self.assertEqual(len(mine), 1)
        self.assertEqual(mine[0]["phase"], "exec")
        self.assertEqual(mine[0]["tasks"], 2)
        # the planted job started inside the slow query's window: the
        # part of it inside that window is the slow query's foreign
        # overlap, and nothing else is
        p = mine[0]
        w0, w1 = slow["start"], slow["end"]
        foreign = [(j["start"], j["end"]) for j in raw["jobs"]
                   if j["group"] != slow["group"]]
        overlap = metrics.union_length(metrics.clip(foreign, w0, w1))
        self.assertAlmostEqual(overlap, min(p["end"], w1) - max(p["start"], w0))
        self.assertGreater(overlap, 0.2)


if __name__ == "__main__":
    unittest.main()
