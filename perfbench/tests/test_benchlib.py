"""Self-tests of the benchmark's pure helpers. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""

import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import benchlib  # noqa: E402


def span(id_, parent, start, end, layer="operators", phase="cycle", counters=None):
    return {"id": id_, "parent": parent, "start_ms": start, "end_ms": end,
            "layer": layer, "phase": phase, "name": f"s{id_}", "counters": counters}


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(benchlib.percentile([3, 1, 2], 50), 2)
        self.assertAlmostEqual(benchlib.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(benchlib.percentile([0, 10], 90), 9.0)
        self.assertEqual(benchlib.percentile([7], 90), 7)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            benchlib.percentile([], 50)

    def test_tail_percentile_keeps_ten_samples_beyond(self):
        self.assertIsNone(benchlib.tail_percentile(19))
        self.assertEqual(benchlib.tail_percentile(20), 50)
        self.assertEqual(benchlib.tail_percentile(100), 90)
        self.assertEqual(benchlib.tail_percentile(1000), 99)
        for n in (20, 37, 100, 250):
            q = benchlib.tail_percentile(n)
            self.assertGreaterEqual(n - n * q / 100.0, 10)

    def test_summary_states_sample_count(self):
        s = benchlib.summarize([float(i) for i in range(100)])
        self.assertEqual(s["n"], 100)
        self.assertAlmostEqual(s["p50"], 49.5)
        self.assertEqual(s["tail_q"], 90)
        s = benchlib.summarize([1.0, 2.0, 3.0])
        self.assertEqual((s["n"], s["p50"]), (3, 2.0))
        self.assertNotIn("tail", s)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps_and_ignores_empty(self):
        self.assertEqual(benchlib.union_length([]), 0.0)
        self.assertEqual(benchlib.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(benchlib.union_length([(20, 25), (0, 10), (10, 12)]), 17)
        self.assertEqual(benchlib.union_length([(0, 10), (2, 3), (4, 5)]), 10)
        self.assertEqual(benchlib.union_length([(5, 5), (7, 6)]), 0.0)

    def test_clip_to_window(self):
        self.assertEqual(benchlib.clipped([(0, 10), (15, 30), (40, 50)], 5, 20),
                         [(5, 10), (15, 20)])

    def test_driver_time_is_call_minus_job_union(self):
        c = {"job_intervals_ms": [[1000, 1400], [1300, 1500], [1800, 2100]]}
        s = span(1, 0, 1000, 2000, counters=c)
        # jobs cover 1000-1500 and 1800-2000 inside the call: 700 ms
        self.assertAlmostEqual(benchlib.driver_seconds(s), 0.3)
        self.assertAlmostEqual(benchlib.driver_seconds(span(2, 0, 0, 500)), 0.5)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [span(1, 0, 0, 1000), span(2, 1, 100, 400), span(3, 1, 300, 600),
                 span(4, 0, 2000, 2500), span(5, 2, 150, 200)]
        st = benchlib.self_times(spans)
        self.assertAlmostEqual(st[1], 0.5)    # children cover 100-600
        self.assertAlmostEqual(st[2], 0.25)   # grandchild 150-200
        self.assertAlmostEqual(st[3], 0.3)
        self.assertAlmostEqual(st[4], 0.5)
        self.assertAlmostEqual(st[5], 0.05)

    def test_child_outside_parent_is_clipped(self):
        st = benchlib.self_times([span(1, 0, 0, 100), span(2, 1, 50, 300)])
        self.assertAlmostEqual(st[1], 0.05)


class CountersTest(unittest.TestCase):
    def counters(self, **kw):
        c = {k: 0 for k in ("jobs", "stages", "tasks", "tasks_failed", "task_cpu_s",
                            "task_gc_s", "task_run_s", "task_queue_s", "spill_bytes",
                            "shuffle_read_bytes", "shuffle_write_bytes")}
        c.update(stage_task_ms=[], job_intervals_ms=[])
        c.update(kw)
        return c

    def test_totals_are_per_cycle_of_timed_steps(self):
        spans = [span(1, 0, 0, 1, counters=self.counters(jobs=2, tasks=8,
                                                         stage_task_ms=[[10, 10, 10, 40]])),
                 span(2, 0, 1, 2, counters=self.counters(jobs=4, tasks=2)),
                 span(3, 0, 2, 3, phase="probe", counters=self.counters(jobs=5)),
                 span(4, 0, 3, 4, phase="overhead", counters=self.counters(jobs=7))]
        t = benchlib.spark_totals(spans, cycles=2)
        self.assertEqual(t["spark.jobs"], 3)
        self.assertEqual(t["spark.tasks"], 5)
        self.assertAlmostEqual(t["spark.task_skew"], 4.0)

    def test_skew_ignores_small_stages(self):
        self.assertEqual(benchlib.stage_skew([[1, 100]]), 1.0)
        self.assertAlmostEqual(benchlib.stage_skew([[5, 5, 5, 5, 20], [1, 1, 1, 3]]), 4.0)


class MetricsTest(unittest.TestCase):
    def result(self):
        return {"setup": {"setup_s": 12.5}, "loads": [2.0, 4.0, 3.0],
                "ops": [{"kind": "a", "s": 1.0, "items": 10, "ok": True},
                        {"kind": "a", "s": 3.0, "items": 30, "ok": True}],
                "peak_rss_mb": 900.0, "jvm_gc_s": 0.5, "traced": True,
                "layers": {"queries.build_s": 1.5, "sources.bytes_written": 50.0,
                           "sources.input_bytes": 100.0, "not.listed": 3.0},
                "spans": [span(1, 0, 0, 2000, layer="pipeline", counters=self.counters())]}

    def counters(self):
        return CountersTest.counters(CountersTest(), job_intervals_ms=[[0, 1500]])

    def test_end_to_end(self):
        m = benchlib.end_to_end(self.result())
        self.assertEqual([k for k, _ in benchlib.END_TO_END], list(m))
        self.assertEqual(m["load_s"], 3.0)
        self.assertEqual(m["op_p50_s"], 2.0)
        self.assertEqual(m["work_per_s"], 10.0)

    def test_non_sample_operations_stay_out_of_percentiles(self):
        r = self.result()
        r["ops"].append({"kind": "replay", "s": 50.0, "items": 0, "ok": True, "sample": False})
        self.assertEqual(benchlib.end_to_end(r), benchlib.end_to_end(self.result()))

    def test_self_time_of_timed_loop_is_per_cycle(self):
        r = self.result()
        r["cycles"] = 2
        r["spans"].append(span(2, 0, 0, 3000, layer="queries", phase="probe"))
        m = benchlib.per_layer(r)
        self.assertAlmostEqual(m["self.pipeline_s"], 1.0)
        self.assertAlmostEqual(m["self.queries_s"], 3.0)

    def test_per_layer_lists_every_metric(self):
        m = benchlib.per_layer(self.result())
        self.assertEqual(sorted(m), sorted(k for k, _ in benchlib.PER_LAYER))
        self.assertEqual(m["queries.build_s"], 1.5)
        self.assertEqual(m["sources.bytes_written_per_input_byte"], 0.5)
        self.assertAlmostEqual(m["pipeline.driver_s"], 0.5)
        self.assertAlmostEqual(m["self.pipeline_s"], 2.0)
        self.assertEqual(m["operators.ivf.search_s"], 0.0)

    def test_components_match_transitive_closure(self):
        comp = benchlib.components([(5, 9), (9, 2), (7, 8), (3, 4), (8, 3)])
        self.assertEqual(comp, {5: 2, 9: 2, 2: 2, 7: 3, 8: 3, 3: 3, 4: 3})
        self.assertEqual(benchlib.components([]), {})

    def test_split_closure(self):
        sql = ("WITH RECURSIVE a AS (SELECT 1),\npairs AS (SELECT 1 AS id_a, 2 AS id_b),"
               "\nedges AS (SELECT id_a AS src FROM pairs),\nreach(id, r) AS (SELECT 1),"
               "\nclusters AS (SELECT 1),\nquality AS (SELECT 2)\nSELECT * FROM quality")
        pairs_sql, final_sql = benchlib.split_closure(sql)
        self.assertTrue(pairs_sql.endswith("(SELECT 1 AS id_a, 2 AS id_b)\nSELECT id_a, id_b FROM pairs"))
        self.assertNotIn("reach", final_sql)
        self.assertIn("\nclusters AS (SELECT doc_id, cluster_id FROM closure_clusters),"
                      "\nquality AS (SELECT 2)", final_sql)
        with self.assertRaises(ValueError):
            benchlib.split_closure("SELECT 1")

    def test_quartile_spread_matches_statistics(self):
        vals = [10.0, 11.0, 9.0, 10.5, 10.2, 9.8, 10.1, 9.9, 10.4, 10.3]
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(benchlib.quartile_spread(vals), (q3 - q1) / q2)


if __name__ == "__main__":
    unittest.main()
