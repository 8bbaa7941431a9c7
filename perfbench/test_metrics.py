"""Tests of the benchmark's own rules.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics

EXPECTED = {
    "street_dag": {"stage_rows": {}, "summary_checksum": ""},
    "query_sweep": {"seed0_rows": {"q_ok": 3, "q_boom": 7}, "seed_invariant": ["q_ok"]},
}


def query_op(name, start, end, rows=None, error=None):
    return {"round": 0, "name": name, "family": "relational", "group": name,
            "span": 0, "start_ms": start, "end_ms": end, "build_ms": 0.0, "plan_ms": 0.0,
            "action_ms": end - start, "error": error, "rows": rows, "stages": [],
            "cache_build_ms": 0, "cache_builds": 0}


def tick_op(reused):
    stages = [{"name": n, "rows": 10, "ms": 5, "reused": r} for n, r in reused.items()]
    return {"round": 0, "name": "tick", "family": "dag", "group": "g",
            "span": 0, "start_ms": 0.0, "end_ms": 50.0, "build_ms": 0.0, "plan_ms": 0.0,
            "action_ms": 50.0, "error": None, "rows": None, "stages": stages,
            "cache_build_ms": 0, "cache_builds": 0}


class PercentileTest(unittest.TestCase):
    def test_dropped_when_fewer_than_ten_samples_lie_beyond(self):
        self.assertIsNone(metrics.percentile(range(19), 0.5))
        self.assertEqual(metrics.percentile(range(20), 0.5), 9)
        self.assertIsNone(metrics.percentile(range(99), 0.9))
        self.assertEqual(metrics.percentile(range(100), 0.9), 89)
        self.assertIsNone(metrics.percentile([], 0.5))


class FailedOperationTest(unittest.TestCase):
    def test_throwing_query_counts_as_failed_not_as_a_fast_time(self):
        ops = [query_op("q_ok", 0.0, 900.0, rows=3)] * 20 + [
            query_op("q_boom", 900.0, 901.0, error="RuntimeException: planted")]
        result = {"meta": {"workload": "query_sweep"}, "facts": {}, "ops": ops}
        failures = metrics.op_failures(result, EXPECTED, seed=0)
        self.assertEqual(failures[-1], "error: RuntimeException: planted")
        self.assertTrue(all(f is None for f in failures[:-1]))
        lat = metrics.latency_report(ops, failures)
        self.assertEqual(lat["n"], 20)
        self.assertAlmostEqual(lat["ops_failed_frac"], 1 / 21)
        # The 1 ms failure is not a latency sample: the median stays 0.9 s.
        self.assertEqual(lat["op_p50_s"], 0.9)

    def test_wrong_row_count_fails_the_check(self):
        result = {"meta": {"workload": "query_sweep"}, "facts": {},
                  "ops": [query_op("q_ok", 0.0, 5.0, rows=4), query_op("q_boom", 5.0, 9.0, rows=8)]}
        self.assertEqual(metrics.op_failures(result, EXPECTED, seed=0),
                         ["rows 4, expected 3", "rows 8, expected 7"])
        # Other seeds check only the counts the key remap leaves unchanged.
        self.assertEqual(metrics.op_failures(result, EXPECTED, seed=5),
                         ["rows 4, expected 3", None])

    def test_tick_that_rebuilds_a_stage_is_failed(self):
        facts = {"initial_stages": [{"name": "a", "rows": 10}, {"name": "b", "rows": 10}]}
        result = {"meta": {"workload": "dag_tick"}, "facts": facts,
                  "ops": [tick_op({"a": True, "b": True}), tick_op({"a": True, "b": False})]}
        self.assertEqual(metrics.op_failures(result, EXPECTED, seed=0), [None, "tick rebuilt b"])

    def test_errored_materialization_keeps_later_outputs_aligned(self):
        exp = {"street_dag": {"stage_rows": {"a": 10}, "summary_checksum": "c"}}
        good = {"summary_checksum": "c", "table_bytes": {"a": 4}}
        stages = [{"name": "a", "rows": 10, "ms": 5, "reused": False}]
        ops = [dict(tick_op({}), name="materialize", stages=stages, error=e)
               for e in (None, "IOException: disk", None)]
        result = {"meta": {"workload": "street_dag"}, "ops": ops,
                  "facts": {"outputs": [good, None, good]}}
        self.assertEqual(metrics.op_failures(result, exp, seed=0),
                         [None, "error: IOException: disk", None])
        # A dir with no committed summary fails its operation even without
        # an error, and counts toward no stored size.
        result["ops"][1]["error"] = None
        self.assertEqual(metrics.op_failures(result, exp, seed=0),
                         [None, "no committed summary table", None])
        self.assertEqual(metrics.stored_bytes(result), 4)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_covered_child_intervals(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "layer": "op", "start_ms": 0.0, "end_ms": 100.0},
            # Overlapping children count once; a child running past its
            # parent's end counts only inside the parent.
            {"id": 2, "parent": 1, "name": "build", "layer": "queries", "start_ms": 10.0,
             "end_ms": 30.0},
            {"id": 3, "parent": 1, "name": "action", "layer": "action", "start_ms": 20.0,
             "end_ms": 50.0},
            {"id": 4, "parent": 1, "name": "late", "layer": "action", "start_ms": 90.0,
             "end_ms": 120.0},
            {"id": 5, "parent": 3, "name": "job", "layer": "job", "start_ms": 25.0,
             "end_ms": 45.0},
        ]
        selfs = metrics.self_times(spans)
        self.assertEqual(selfs["op"], 100.0 - 40.0 - 10.0)
        self.assertEqual(selfs["queries"], 20.0)
        self.assertEqual(selfs["action"], (30.0 - 20.0) + 30.0)
        self.assertEqual(selfs["job"], 20.0)

    def test_jobs_hang_under_the_span_that_submitted_them(self):
        ops = [dict(query_op("q_ok", 0.0, 100.0), span=1)]
        spans = [
            {"id": 1, "parent": 0, "name": "q_ok", "layer": "op", "start_ms": 0.0, "end_ms": 100.0},
            {"id": 2, "parent": 1, "name": "build", "layer": "queries", "start_ms": 0.0,
             "end_ms": 40.0},
            {"id": 3, "parent": 1, "name": "action", "layer": "action", "start_ms": 40.0,
             "end_ms": 100.0},
        ]
        jobs = [{"id": 7, "group": "q_ok", "dag_stage": "", "start_ms": 50, "end_ms": 90},
                {"id": 8, "group": "other", "dag_stage": "", "start_ms": 50, "end_ms": 90}]
        out = metrics.job_spans(ops, jobs, spans)
        self.assertEqual([(s["name"], s["parent"]) for s in out], [("job-7", 3)])


class CriticalPathTest(unittest.TestCase):
    def test_concurrent_roots_count_only_on_the_longest_chain(self):
        deps = {"grouped": ["detections"], "rays": ["grouped", "poses"]}
        ms = {"detections": 5.0, "poses": 9.0, "grouped": 3.0, "rays": 2.0}
        self.assertEqual(metrics.critical_path_ms(ms, deps), 11.0)


if __name__ == "__main__":
    unittest.main()
