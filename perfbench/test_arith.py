"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import arith
import checks


class PercentileTest(unittest.TestCase):
    def test_too_few_samples_support_no_tail_percentile(self):
        self.assertIsNone(arith.highest_percentile([]))
        self.assertIsNone(arith.highest_percentile([2.0, 1.0]))
        self.assertIsNone(arith.highest_percentile([1.0] * 20))

    def test_ten_samples_stay_beyond_the_percentile(self):
        xs = [float(i) for i in range(40, 0, -1)]
        self.assertEqual(arith.highest_percentile(xs), (75, 30.0))
        self.assertEqual(sum(x > 30.0 for x in xs), 10)

    def test_hundred_samples_support_p90(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(arith.highest_percentile(xs), (90, 90.0))


class UnionTest(unittest.TestCase):
    def test_overlapping_and_nested_jobs_count_once(self):
        jobs = [(0.0, 2.0), (1.0, 3.0), (1.5, 1.7), (5.0, 6.0)]
        self.assertAlmostEqual(arith.union_length(jobs), 4.0)

    def test_touching_intervals_merge(self):
        self.assertAlmostEqual(arith.union_length([(0, 1), (1, 2)]), 2.0)

    def test_clipped_to_the_pass(self):
        jobs = [(-1.0, 1.0), (2.0, 4.0), (9.0, 12.0)]
        self.assertAlmostEqual(arith.union_length(jobs, 0.0, 10.0), 4.0)

    def test_idle_is_pass_wall_minus_union(self):
        spans = [{"id": 0, "name": "pass", "start": 0.0, "end": 10.0,
                  "parent": -1}]
        traced = {"spans": spans, "wall_s": 10.0, "cache_mb": 0.0,
                  "layers": {"jobs": [{"start": 1.0, "end": 4.0},
                                      {"start": 3.0, "end": 6.0}],
                             "stages": [], "sql": [], "codegen_compiles": 0,
                             "codegen_ms": 0.0}}
        m = arith.layer_metrics(traced, 4, 10.0, 1.0)
        self.assertAlmostEqual(m["driver.idle_s"], 5.0)
        self.assertAlmostEqual(m["driver.idle_ms_per_job"], 2500.0)


class SelfTimeTest(unittest.TestCase):
    SPANS = [
        {"id": 0, "name": "pass", "start": 0.0, "end": 10.0, "parent": -1},
        {"id": 1, "name": "sources.ingest", "start": 0.0, "end": 2.0, "parent": 0},
        {"id": 2, "name": "operators.run", "start": 2.0, "end": 9.0, "parent": 0},
        {"id": 3, "name": "sources.ingest", "start": 3.0, "end": 4.0, "parent": 2},
    ]

    def test_children_are_subtracted(self):
        own = arith.self_times(self.SPANS)
        self.assertAlmostEqual(own["pass"], 1.0)
        self.assertAlmostEqual(own["operators.run"], 6.0)
        self.assertAlmostEqual(own["sources.ingest"], 3.0)

    def test_layer_self_times_add_up_to_the_pass(self):
        m = arith.span_metrics({"spans": self.SPANS})
        total = sum(v for k, v in m.items() if k.startswith("self."))
        self.assertAlmostEqual(total, 10.0)
        self.assertAlmostEqual(m["operators.run_s"], 7.0)


class CliPhasesTest(unittest.TestCase):
    TIMINGS = ("Phase,Duration_ms\nSetup,1500\nSuperstep_1,700\n"
               "Superstep_2,500\nCleanup_And_Write,400\n")

    def test_prologue_is_the_call_minus_every_row(self):
        m = arith.cli_phases(self.TIMINGS, 4.0)
        self.assertAlmostEqual(m["sources.ingest_s"], 1.5)
        self.assertAlmostEqual(m["cli.write_s"], 0.4)
        self.assertEqual(m["operators.supersteps"], 2)
        self.assertAlmostEqual(m["operators.pagerank_prologue_s"], 0.9)
        self.assertAlmostEqual(m["operators.pagerank_run_s"], 2.1)


class OverheadTest(unittest.TestCase):
    def test_traced_pass_is_compared_with_its_neighbours(self):
        passes = [{"pass": 0, "wall_s": 20.0}, {"pass": 1, "wall_s": 6.0},
                  {"pass": 3, "wall_s": 4.0}, {"pass": 4, "wall_s": 1.0}]
        self.assertAlmostEqual(
            arith.neighbour_wall({"pass": 2, "wall_s": 5.5}, passes), 5.0)


class StragglerTest(unittest.TestCase):
    def test_single_task_stages_have_no_straggler(self):
        self.assertEqual(arith.straggler_ratio([{"task_ms": [500]}]), 1.0)

    def test_worst_stage_wins(self):
        stages = [{"task_ms": [10, 10, 30]}, {"task_ms": [0, 0, 4]}]
        self.assertEqual(arith.straggler_ratio(stages), 4.0)


class OracleTest(unittest.TestCase):
    def test_modularity_of_two_disjoint_triangles(self):
        # duplicate, reversed and self-loop edges drop out of the simple graph
        edges = [(0, 1), (1, 2), (2, 0), (1, 0), (3, 4), (4, 5), (5, 3), (3, 3)]
        labels = {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
        self.assertEqual(checks.modularity(edges, labels), 0.5)


if __name__ == "__main__":
    unittest.main()
