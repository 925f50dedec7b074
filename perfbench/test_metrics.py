"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

Plain unittest, outside the repository's sbt test tree. The row-hash
test compiles the benchmark (`build.py`) and runs its JVM self-check.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(100))
        v, pct, n = metrics.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(v, 89)
        self.assertAlmostEqual(pct, 90.0)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail([5, 1, 4, 2, 3] * 5), metrics.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_too_few_samples_gives_minimum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (1.0, 0.0, 3))
        v, pct, n = metrics.tail(list(range(11)))
        self.assertEqual((v, n), (0, 11))
        self.assertAlmostEqual(pct, 100 / 11)


class BusyAndSelfTimeTest(unittest.TestCase):
    def test_busy_frac(self):
        self.assertAlmostEqual(metrics.busy_frac(run_s=8.0, slots=4, wall_s=4.0), 0.5)
        self.assertAlmostEqual(metrics.busy_frac(run_s=16.0, slots=4, wall_s=4.0), 1.0)

    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_part_only(self):
        # children overlap each other and stick out of the parent
        self.assertEqual(metrics.self_time((0, 10), [(2, 4), (3, 5), (8, 12), (-3, 1)]), 4)
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(11, 12)]), 10)


class AttributionTest(unittest.TestCase):
    def test_module_from_call_site(self):
        self.assertEqual(metrics.module_of("collect at Dedup.scala:633"), "Dedup")
        self.assertEqual(metrics.module_of("parquet at Packing.scala:303"), "Packing")
        self.assertEqual(metrics.module_of("run at ThreadPoolExecutor.java:1136"), None)
        self.assertEqual(metrics.module_of(""), None)

    def test_jobs_attributed_per_operator(self):
        spans = [{"name": "pass", "pass": 0, "start": 0.0, "end": 1000.0},
                 {"name": "job", "pass": -1, "start": 100.0, "end": 300.0,
                  "callsite": "collect at Dedup.scala:633"},
                 {"name": "job", "pass": -1, "start": 200.0, "end": 400.0,
                  "callsite": "count at Dedup.scala:10"},
                 {"name": "job", "pass": -1, "start": 500.0, "end": 600.0,
                  "callsite": "collect at Harness.scala:133"},
                 {"name": "stage", "pass": -1, "start": 100.0, "end": 300.0,
                  "callsite": "collect at Dedup.scala:633", "tasks": 4, "run_s": 0.6,
                  "cpu_s": 0.5, "gc_s": 0.0, "delay_s": 0.01, "shuffle_write_bytes": 0,
                  "shuffle_read_bytes": 0, "fetch_wait_s": 0.0, "spill_bytes": 0,
                  "input_bytes": 0, "input_rows": 0},
                 # outside every traced pass: ignored
                 {"name": "job", "pass": -1, "start": 2000.0, "end": 2100.0,
                  "callsite": "collect at Dedup.scala:633"}]
        rep = {"gc_s": 0.0, "passes": [{"pass": 0, "s": 1.0, "traced": True},
                                       {"pass": 1, "s": 0.8, "traced": False}]}
        m = metrics.per_layer(rep, spans, "batch", 4, 1000, 0, 0, 2.0)
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertEqual(m["operators.Dedup.jobs"], 2)
        self.assertAlmostEqual(m["operators.Dedup.wall_s"], 0.3)
        self.assertAlmostEqual(m["operators.Dedup.run_s"], 0.6)
        self.assertEqual(m["operators.Bpe.jobs"], 0)
        # 1 s pass, jobs cover 0.1-0.4 and 0.5-0.6 s
        self.assertAlmostEqual(m["driver.self_s"], 0.6)
        self.assertAlmostEqual(m["scheduler.busy_frac"], 0.6 / 4)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.25)
        self.assertEqual(set(m), {k for k in metrics.UNITS if k not in metrics.END_TO_END})


class StreamLatencyTest(unittest.TestCase):
    def test_each_doc_waits_for_its_slowest_query(self):
        stream = {"t0_ms": 1000.0, "files": [[0.0, 2], [0.5, 1]],
                  # query A reads both files in one batch; B in two
                  "batches": [[[1800.0, 3]], [[1200.0, 2], [2000.0, 1]]]}
        lat = metrics.doc_latencies(stream)
        self.assertEqual([d for d, _ in lat], [0.0, 0.0, 0.5])
        for (_, got), want in zip(lat, [0.8, 0.8, 0.5]):
            self.assertAlmostEqual(got, want)


class RateMetTest(unittest.TestCase):
    def test_rate_needs_latency_and_throughput(self):
        # 1 s segments at 1 and 4 docs/s; one query finishes everything at 4 s
        stream = {"t0_ms": 0.0, "segment_s": 1.0, "rates": [1, 4],
                  "files": [[0.0, 1], [1.0, 4]], "batches": [[[4000.0, 5]]]}
        low, pass_s, met = metrics.stream_segments(stream, limit_s=10.0)
        self.assertEqual(low, [4.0])
        self.assertEqual(pass_s, 4.0)
        # 5 docs in 4 s carry 1 doc/s but not 4
        self.assertEqual(met, 1)
        self.assertEqual(metrics.stream_segments(stream, limit_s=3.5)[2], 0.0)


class RowHashTest(unittest.TestCase):
    def test_jvm_self_check(self):
        import build
        cp = build.build()
        r = subprocess.run(["java", "-cp", cp, "perfbench.SelfCheck"],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        self.assertEqual(r.returncode, 0, r.stdout[-2000:])


if __name__ == "__main__":
    unittest.main()
