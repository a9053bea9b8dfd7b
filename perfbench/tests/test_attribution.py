"""Integration test: the traced harness attributes Spark jobs to the phase
that launched them.

A reach query (q173) runs its traversal eagerly while the DataFrame is
being built, so its jobs must land in `compile.jobs`; a plain MATCH (q01)
launches no job before the sink. Builds the harness if needed (sbt,
offline) and runs it on small generated tables, so it takes a minute or
two:

    python3 -m unittest perfbench/tests/test_attribution.py
"""
import json
import os
import shutil
import sys
import time
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
import datagen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class AttributionTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classpath = run.build()
        base = os.path.join(run.WORK, "test-attribution")
        shutil.rmtree(base, ignore_errors=True)
        data = os.path.join(base, "data")
        datagen.generate(data, 3, 0.01)
        cypher = run.load_json("queries.json")
        names = ["q173_hetero_klevel_witness", "q01_node_scan",
                 "t32_token_entropy"]
        queries = [dict(cypher[n], name=n, kind="cypher") for n in names[:2]]
        queries.append({"name": names[2], "kind": "ops"})
        plan = {"data_dir": data, "check_dir": os.path.join(base, "check"),
                "warehouse_dir": os.path.join(base, "warehouse"),
                "result": os.path.join(base, "result.json"),
                "cores": 2, "seconds": 0, "trace": True, "queries": queries,
                "orders": [[0, 1, 2]], "min_passes": 1}
        try:
            cls.result = run.run_harness(classpath, plan, base,
                                         time.monotonic() + 600)
        finally:
            shutil.rmtree(base, ignore_errors=True)
        layers, cls.per_exec = metrics.layer_totals(cls.result["traced"], 2)
        cls.by_q = {e["q"]: e for e in cls.per_exec}

    def test_reach_build_jobs_land_in_compile(self):
        self.assertGreater(self.by_q["q173_hetero_klevel_witness"]["compile.jobs"], 0)

    def test_plain_match_launches_no_build_jobs(self):
        q01 = self.by_q["q01_node_scan"]
        self.assertEqual(q01["compile.jobs"], 0)
        self.assertGreaterEqual(q01["exec.jobs"], 1)

    def test_sink_catalyst_phases_are_recorded(self):
        for e in self.per_exec:
            self.assertGreater(e["catalyst.physical_nodes"], 0, e["q"])

    def test_ops_query_is_timed_as_ops(self):
        t32 = self.by_q["t32_token_entropy"]
        self.assertGreater(t32["ops.s"], 0)
        self.assertEqual(t32["parse.s"], 0)
        self.assertGreater(t32["exec.task_cpu_s"], 0)

    def test_spans_nest_jobs_under_phases(self):
        spans = {s["id"]: s for s in self.result["traced"]["spans"]}
        jobs = [s for s in spans.values() if s["name"] == "job"]
        self.assertTrue(jobs)
        for j in jobs:
            self.assertIn(spans[j["parent"]]["name"], ("compile", "ops", "exec"))
        json.dumps(self.result)  # the raw result stays serialisable


if __name__ == "__main__":
    unittest.main()
