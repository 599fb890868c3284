"""Tests for metrics.py: python3 -m unittest discover -s dwbench -p 'test_*.py'"""
import json
import os
import unittest

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))


def span(id, parent, name, kind, t0, t1, **extra):
    return dict(id=id, parent=parent, name=name, kind=kind, t0=t0, t1=t1, **extra)


def query_artifact():
    spans = [
        span("s1", None, "pass1", "pass", 0.0, 10.0, traced=True, wall_s=9.5,
             driver_gap_s=2.0),
        span("s2", "s1", "link_predict_approx", "op", 0.0, 6.0, layer="ext.Graph",
             wall_s=6.0, counters_key="op1"),
        span("s3", "s2", "build", "build", 0.0, 4.0),
        span("s4", "s2", "action", "action", 4.0, 5.5),
        span("s5", "s1", "graph_walks_biased", "op", 6.0, 9.5, layer="ext.Walks",
             wall_s=3.5, counters_key="op2"),
        span("s6", "s5", "build", "build", 6.0, 9.0),
        span("s7", "s5", "action", "action", 9.0, 9.5),
    ]
    counters = {"op1": {"jobs": 7, "build_jobs": 5, "task_cpu_s": 3.0, "task_run_s": 8.0,
                        "shuffle_write_bytes": 100, "spill_bytes": 0, "input_bytes": 10},
                "op2": {"jobs": 3, "build_jobs": 3, "task_cpu_s": 1.0, "task_run_s": 4.0,
                        "shuffle_write_bytes": 50, "spill_bytes": 5, "input_bytes": 20}}
    return {"spans": spans, "counters": counters, "cores": 4,
            "trace": {"skew_ratio": 3.0, "scans": 4, "pin_materialisations": 6,
                      "pin_bytes_peak": 1000},
            "setup_s": [9.0, 2.0, 3.0], "heap_peak_mb": 500.0,
            "results": [{"wall_s": 6.0}, {"wall_s": 3.5}, {"wall_s": 1.0}]}


def etl_artifact():
    spans = [
        span("s1", None, "pass1", "pass", 0.0, 30.0, traced=True, wall_s=30.0,
             driver_gap_s=5.0),
        span("s2", "s1", "full", "phase", 0.0, 20.0, layer="etl", wall_s=20.0,
             counters_key="op1"),
        span("s3", "s2", "DateDim", "dims", 0.0, 1.0),
        span("s4", "s2", "etl_load_customer", "dims", 1.0, 4.0),
        span("s5", "s2", "etl_load_user_profile", "dims", 4.5, 8.0),
        span("s6", "s2", "etl_load_factsales", "facts", 8.0, 12.0),
        span("s7", "s2", "marts", "marts", 12.0, 14.0),
        span("s8", "s2", "checks", "checks", 14.0, 20.0),
    ]
    counters = {"op1": {"jobs": 200, "bytes_written": 4096, "task_run_s": 10.0}}
    return {"spans": spans, "counters": counters, "cores": 4, "trace": {},
            "heap_peak_mb": 300.0, "results": [{"wall_s": 20.0}]}


class MetricsTest(unittest.TestCase):
    def test_end_to_end_takes_medians(self):
        art = query_artifact()
        art["spans"] = [dict(art["spans"][0], traced=False),
                        span("x", None, "pass2", "pass", 10, 20, traced=False,
                             wall_s=8.5)]
        got = metrics.end_to_end(art)
        self.assertEqual(got["setup_s"], (3.0, "s"))
        self.assertEqual(got["wall_s"], (9.0, "s"))

    def test_unattributed_is_the_wall_the_parts_leave(self):
        self.assertAlmostEqual(
            metrics.unattributed({"t0": 1.0, "t1": 11.0}, {"a": 4.0, "b": 5.0}), 1.0)

    def test_op_layers_plus_remainder_add_up_to_the_walls(self):
        got = metrics.per_layer(query_artifact(), ["ext.Graph", "ext.Walks"])
        v = {k: x for k, (x, _) in got.items()}
        layer_time = sum(v["%s.%s" % (l, k)] for l in ("ext.Graph", "ext.Walks")
                         for k in ("build_s", "action_s"))
        self.assertAlmostEqual(layer_time + v["op.unattributed_s"], 6.0 + 3.5)
        self.assertEqual(v["ext.Graph.build_jobs"], 5)
        self.assertEqual(v["ext.Walks.jobs"], 3)
        self.assertAlmostEqual(v["spark.core_util"], 12.0 / (10.0 * 4))
        self.assertEqual(v["spark.spill_bytes"], 5)
        self.assertEqual(v["query_p50_s"], 3.5)
        self.assertEqual(v["trace_overhead_frac"], 0.0)

    def test_etl_layers_plus_remainder_add_up_to_the_phase_wall(self):
        got = metrics.per_layer(etl_artifact(), [])
        v = {k: x for k, (x, _) in got.items()}
        self.assertAlmostEqual(v["dims.full_s"], 1.0 + 3.0 + 3.5)
        self.assertAlmostEqual(v["facts.full_s"], 4.0)
        self.assertAlmostEqual(sum(v["%s.full_s" % l] for l in metrics.ETL_LAYERS)
                               + v["etl.full_unattributed_s"], v["etl.full_s"])
        self.assertAlmostEqual(v["etl.full_unattributed_s"], 0.5)
        self.assertEqual(v["spark.full_jobs"], 200)
        self.assertEqual(v["meta.full_bytes_written"], 4096)
        self.assertEqual(v["etl.noop_s"], 0)

    def test_trace_overhead_compares_with_untraced_walls(self):
        got = metrics.per_layer(query_artifact(), [], untraced_walls=[9.0, 10.0, 9.5])
        self.assertAlmostEqual(got["trace_overhead_frac"][0], 0.0)
        got = metrics.per_layer(query_artifact(), [], untraced_walls=[9.5 / 1.1])
        self.assertAlmostEqual(got["trace_overhead_frac"][0], 0.1)

    def test_benchmark_json_names_exactly_the_metrics_produced(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        layers = metrics.declared_layers(os.path.join(HERE, "ops"))
        per_layer = metrics.per_layer(query_artifact(), layers)
        self.assertEqual([m["name"] for m in spec["per_layer"]], list(per_layer))
        self.assertEqual({m["name"] for m in spec["end_to_end"]},
                         set(metrics.end_to_end(query_artifact() | {"spans": [
                             dict(query_artifact()["spans"][0], traced=False)]})))


if __name__ == "__main__":
    unittest.main()
