"""Unit tests for perfbench's statistics and per-layer derivation.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(i, parent, name, start, end, exec_id="1"):
    return {"id": i, "parent": parent, "name": name, "exec": exec_id,
            "query": "q", "start_ms": start, "end_ms": end}


class StatsTest(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0]
        self.assertEqual(metrics.quartiles(xs),
                         tuple(statistics.quantiles(xs, n=4)))
        q1, q2, q3 = metrics.quartiles(xs)
        self.assertAlmostEqual(metrics.iqr_share(xs), (q3 - q1) / q2)

    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(metrics.geomean([2.0, 8.0, 4.0]), 4.0)
        with self.assertRaises(ValueError):
            metrics.geomean([1.0, 0.0])

    def test_geomean_weighs_short_queries_like_long_ones(self):
        # halving one short query moves the geomean as much as halving a
        # long one
        base = metrics.geomean([0.1, 10.0])
        self.assertAlmostEqual(metrics.geomean([0.05, 10.0]),
                               metrics.geomean([0.1, 5.0]))
        self.assertAlmostEqual(metrics.geomean([0.05, 10.0]) / base,
                               1 / math.sqrt(2))


class SpanTest(unittest.TestCase):
    def test_covered_merges_overlaps_and_clips(self):
        self.assertEqual(metrics.covered([(0, 2), (1, 3), (5, 6)], 0, 10), 4)
        self.assertEqual(metrics.covered([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.covered([], 0, 10), 0)

    def test_self_time_of_nested_spans(self):
        spans = [span(0, -1, "query", 0, 100),
                 span(1, 0, "compile", 0, 60),
                 span(2, 1, "job", 10, 30),
                 span(3, 1, "job", 25, 40),    # overlaps the first job
                 span(4, 2, "stage", 12, 28),
                 span(5, 0, "exec", 60, 100),
                 span(6, 5, "job", 65, 95)]
        st = metrics.self_times(spans)
        self.assertEqual(st[0], 0)           # fully covered by its phases
        self.assertEqual(st[1], 60 - 30)     # jobs cover 10..40
        self.assertEqual(st[2], 20 - 16)
        self.assertEqual(st[5], 40 - 30)
        self.assertEqual(st[6], 30)          # leaf


def traced_fixture():
    """Two executions: a reach query whose build runs two eager jobs, and a
    plain MATCH whose only job is the sink's."""
    rows = [{"q": "q173", "exec": "1", "pass": 0, "total_s": 1.0,
             "phases": {"parse": 0.01, "compile": 0.7, "exec": 0.29}},
            {"q": "q01", "exec": "2", "pass": 0, "total_s": 0.2,
             "phases": {"parse": 0.01, "compile": 0.04, "exec": 0.15}}]
    spans = [span(0, -1, "query", 0, 1000, "1"),
             span(1, 0, "parse", 0, 10, "1"),
             span(2, 0, "compile", 10, 710, "1"),
             span(3, 2, "job", 100, 300, "1"),
             span(4, 2, "job", 400, 500, "1"),
             span(5, 0, "exec", 710, 1000, "1"),
             span(6, 5, "job", 720, 990, "1"),
             span(7, -1, "query", 2000, 2200, "2"),
             span(8, 7, "parse", 2000, 2010, "2"),
             span(9, 7, "compile", 2010, 2050, "2"),
             span(10, 7, "exec", 2050, 2200, "2"),
             span(11, 10, "job", 2060, 2190, "2")]
    counters = [
        {"exec": "1", "phase": "compile",
         "values": {"jobs": 2, "job_ms": 300, "tasks": 8, "task_ms": 800,
                    "useful_tasks": 4, "result_bytes": 1000}},
        {"exec": "1", "phase": "exec",
         "values": {"jobs": 1, "stages": 2, "job_ms": 270, "tasks": 4,
                    "task_ms": 400, "useful_tasks": 4, "analysis_ms": 2,
                    "optimization_ms": 5, "planning_ms": 3, "smj": 1}},
        {"exec": "2", "phase": "exec",
         "values": {"jobs": 1, "stages": 1, "job_ms": 130, "tasks": 4,
                    "task_ms": 200, "useful_tasks": 2, "bhj": 1}}]
    return {"rows": rows, "spans": spans, "counters": counters, "passes": 1,
            "tokens": {"q173": 40, "q01": 20},
            "logical_nodes": {"q173": 30, "q01": 5}}


class LayerTest(unittest.TestCase):
    def setUp(self):
        self.layers, self.per_exec = metrics.layer_totals(traced_fixture(), 4)
        self.by_q = {e["q"]: e for e in self.per_exec}

    def test_eager_build_jobs_land_in_compile(self):
        self.assertEqual(self.by_q["q173"]["compile.jobs"], 2)
        self.assertEqual(self.by_q["q173"]["exec.jobs"], 1)

    def test_plain_match_has_no_compile_jobs(self):
        self.assertEqual(self.by_q["q01"]["compile.jobs"], 0)
        self.assertEqual(self.by_q["q01"]["exec.jobs"], 1)

    def test_compile_self_time_excludes_its_jobs(self):
        self.assertAlmostEqual(self.by_q["q173"]["compile.self_s"], 0.4)
        self.assertAlmostEqual(self.by_q["q01"]["compile.self_s"], 0.04)

    def test_build_self_time_is_build_time_minus_its_jobs(self):
        # parse + compile + ops, minus the eager jobs, which do not overlap
        l = self.layers
        self.assertAlmostEqual(l["build.s"], 0.01 + 0.7 + 0.01 + 0.04)
        self.assertAlmostEqual(l["build.job_s"], 0.3)
        self.assertAlmostEqual(l["build.self_s"], l["build.s"] - l["build.job_s"])

    def test_pass_sums_and_ratios(self):
        l = self.layers
        self.assertEqual(l["compile.jobs"], 2)
        self.assertEqual(l["exec.jobs"], 2)
        self.assertEqual(l["exec.tasks"], 16)   # eager + sink tasks
        self.assertAlmostEqual(l["exec.useful_task_frac"], 10 / 16)
        self.assertAlmostEqual(l["exec.task_s"], 1.4)
        self.assertAlmostEqual(l["parse.tokens_per_s"], 60 / 0.02)
        self.assertAlmostEqual(l["exec.s"], 0.44)
        # idle = sink wall x cores - sink task time
        self.assertAlmostEqual(l["exec.idle_core_s"], 0.44 * 4 - 0.6)
        self.assertEqual(l["catalyst.smj"], 1)
        self.assertEqual(l["catalyst.bhj"], 1)
        self.assertAlmostEqual(l["catalyst.optimization_s"], 0.005)
        self.assertEqual(l["compile.logical_nodes"], 35)
        self.assertEqual(l["exec.result_bytes"], 1000)

    def test_per_query_rows(self):
        fx = traced_fixture()
        rows = metrics.per_query(fx["rows"], self.per_exec, {"q01": 0.05})
        self.assertEqual(rows["q173"]["traced"]["compile.jobs"], 2)
        self.assertEqual(rows["q01"]["count_s"], 0.05)
        self.assertAlmostEqual(rows["q01"]["noop_exec_s"], 0.15)
        self.assertAlmostEqual(rows["q01"]["median_s"], 0.2)


class EndToEndTest(unittest.TestCase):
    def test_end_to_end_and_drift(self):
        rows = [{"q": "a", "pass": 0, "total_s": 1.0, "error": None},
                {"q": "b", "pass": 0, "total_s": 4.0, "error": None},
                {"q": "a", "pass": 1, "total_s": 3.0, "error": None},
                {"q": "b", "pass": 1, "total_s": 4.0, "error": None},
                {"q": "a", "pass": 2, "total_s": 2.0, "error": None},
                {"q": "b", "pass": 2, "total_s": 8.0, "error": None}]
        result = {"setup_s": 7.5,
                  "timed": {"rows": rows, "pass_wall_s": [5.0, 7.0, 10.0],
                            "pass_cpu_s": [8.0, 6.0, 16.0]}}
        e = metrics.end_to_end(result)
        self.assertEqual(e["setup_s"], 7.5)
        # the median pass: 2 executions in 7 s; 8 CPU-s over 2
        self.assertAlmostEqual(e["queries_per_s"], 2 / 7.0)
        self.assertAlmostEqual(e["query_geomean_s"], math.sqrt(2.0 * 4.0))
        self.assertEqual(e["worst_query_s"], 4.0)
        self.assertAlmostEqual(e["cpu_s_per_query"], 4.0)
        self.assertAlmostEqual(metrics.pass_drift(rows), 10.0 / 5.0)


if __name__ == "__main__":
    unittest.main()
