"""Unit tests for the benchmark's pure functions.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p75_needs_forty_samples(self):
        self.assertEqual(metrics.highest_percentile(40), 75)
        self.assertEqual(metrics.highest_percentile(39), 50)

    def test_fifteen_queries_three_passes_gives_p75(self):
        self.assertEqual(metrics.highest_percentile(15 * 3), 75)

    def test_higher_levels_need_more_samples(self):
        self.assertEqual(metrics.highest_percentile(100), 90)
        self.assertEqual(metrics.highest_percentile(200), 95)
        self.assertEqual(metrics.highest_percentile(1000), 99)

    def test_too_few_samples_gives_none(self):
        self.assertIsNone(metrics.highest_percentile(19))
        self.assertEqual(metrics.highest_percentile(20), 50)

    def test_percentile_interpolates_between_ranks(self):
        xs = [4, 1, 3, 2]
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 4)
        self.assertEqual(metrics.percentile(xs, 50), 2.5)
        self.assertEqual(metrics.percentile(xs, 75), 3.25)
        self.assertEqual(metrics.percentile([7], 75), 7)

    def test_percentile_of_nothing_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class MedianAndQuartiles(unittest.TestCase):
    def test_median_odd_and_even(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 3, 2]), 2.5)

    def test_quartiles_match_statistics_quantiles(self):
        xs = [9.1, 10.4, 9.8, 10.0, 11.2, 9.5, 10.1, 9.9, 10.6, 10.3]
        self.assertEqual(metrics.quartiles(xs), tuple(statistics.quantiles(xs, n=4)))

    def test_iqr_share(self):
        xs = [1, 2, 3, 4, 5, 6, 7]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.iqr_share(xs), (q3 - q1) / q2)
        self.assertEqual(metrics.iqr_share([5, 5, 5, 5]), 0)

    def test_empty_inputs_are_errors(self):
        with self.assertRaises(ValueError):
            metrics.median([])
        with self.assertRaises(ValueError):
            metrics.quartiles([1])


class FailedRatio(unittest.TestCase):
    def test_throw_and_mismatch_each_count(self):
        self.assertEqual(metrics.failed_ratio(40, threw=1, mismatched=0), 1 / 40)
        self.assertEqual(metrics.failed_ratio(40, threw=0, mismatched=1), 1 / 40)
        self.assertEqual(metrics.failed_ratio(40, threw=1, mismatched=1), 2 / 40)

    def test_clean_run_is_zero(self):
        self.assertEqual(metrics.failed_ratio(40, 0, 0), 0)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.failed_ratio(0, 0, 0)


class SpanSelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(metrics.self_time((0, 100), []), 100)

    def test_disjoint_children(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 20), (30, 60)]), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(metrics.self_time((0, 100), [(10, 50), (40, 70), (45, 55)]), 40)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(metrics.self_time((10, 100), [(0, 20), (90, 150)]), 70)
        self.assertEqual(metrics.self_time((10, 100), [(200, 300)]), 90)

    def test_fully_covered(self):
        self.assertEqual(metrics.self_time((0, 100), [(0, 60), (60, 100)]), 0)


class FamilyRollup(unittest.TestCase):
    FAMILY = {"q1": "graph", "q2": "graph", "q3": "tx"}

    def test_sums_per_family(self):
        got = metrics.rollup([("q1", 10), ("q2", 5), ("q3", 7), ("q1", 1)], self.FAMILY)
        self.assertEqual(got, {"graph": 16, "tx": 7})

    def test_untagged_query_is_an_error(self):
        with self.assertRaises(KeyError):
            metrics.rollup([("q9", 1)], self.FAMILY)


class OracleVerdicts(unittest.TestCase):
    def test_each_check_oracle_line_kind(self):
        import run
        out = "\n".join([
            "PASS q01_groupby_agg (6 rows)",
            "FAIL q04_inner_join: rows duck=3 spark=2",
            "MISSING spark output: q13_distinct",
            "ORACLE ERROR q15_rank_window: Binder Error: x",
            "== 1 pass, 3 fail ==",
        ])
        self.assertEqual(run.parse_oracle(out), {
            "q01_groupby_agg": None,
            "q04_inner_join": "FAIL rows duck=3 spark=2",
            "q13_distinct": "MISSING spark output:",
            "q15_rank_window": "ORACLE ERROR Binder Error: x",
        })


class RunRecord(unittest.TestCase):
    """End-to-end and per-layer reductions over a small synthetic record."""

    @staticmethod
    def query(name, build, plan, exec_, **extra):
        q = {"name": name, "build_ms": build, "plan_ms": plan, "exec_ms": exec_, "rows": 2,
             "analysis_ms": 1.0, "optimization_ms": 2.0, "planning_ms": 3.0}
        q.update(extra)
        return q

    def record(self):
        jvm = {"gc_ms": 5, "jit_ms": 6, "heap_peak_mb": 7.0, "codegen_compiles": 8, "codegen_ms": 9.0}
        warm = [{"index": i, "kind": "warm", "traced": False, "wall_ms": 1000.0 + i,
                 "ref_ms": 40.0 + 20 * i, "span_id": 0,
                 "jvm": jvm, "queries": [self.query(f"q{j}", 10, 1, 20 + j) for j in range(10)]}
                for i in range(1, 5)]
        cold = {"index": 0, "kind": "cold", "traced": False, "wall_ms": 3000.0, "span_id": 0,
                "jvm": jvm, "queries": [self.query("q0", 1, 1, 1, error="exec: boom")]}
        return {"passes": [cold] + warm, "peak_rss_mb": 512.0, "cpus": 2,
                "session_ms": 1500.0, "data_ready_ms": [900.0, 400.0, 500.0]}

    def test_end_to_end(self):
        e2e = metrics.end_to_end(self.record())
        self.assertEqual(e2e["suite_ref"], (1002.5 / 90.0, "ref"))
        self.assertEqual(e2e["setup_s"], (2.0, "s"))
        self.assertEqual(e2e["peak_rss_mb"], (512.0, "MB"))

    def test_wall_times(self):
        got, n = metrics.wall_times(self.record())
        self.assertEqual(n, 40)
        self.assertEqual(got["suite_s"], (1.0025, "s"))
        self.assertEqual(got["cold_suite_s"], (3.0, "s"))
        self.assertEqual(got["query_ms.p50"][0], metrics.percentile([31 + j for j in range(10)] * 4, 50))
        self.assertEqual(got["host.ref_ms"], (90.0, "ms"))

    def test_wall_times_count_only_successful_warm_executions(self):
        rec = self.record()
        rec["passes"][1]["queries"][0]["error"] = "build: boom"
        _, n = metrics.wall_times(rec)
        self.assertEqual(n, 39)

    def test_per_layer(self):
        rec = self.record()
        spans = [{"id": 1, "parent": 0, "kind": "pass", "name": "warm 2", "start_us": 0, "end_us": 100_000,
                  "attrs": {"files_read_bytes": 3 * 1048576}},
                 {"id": 2, "parent": 1, "kind": "query", "name": "q1", "start_us": 0, "end_us": 100_000, "attrs": {}},
                 {"id": 3, "parent": 2, "kind": "build", "name": "q1", "start_us": 0, "end_us": 60_000, "attrs": {}},
                 {"id": 4, "parent": 2, "kind": "plan", "name": "q1", "start_us": 60_000, "end_us": 70_000, "attrs": {}},
                 {"id": 5, "parent": 2, "kind": "exec", "name": "q1", "start_us": 70_000, "end_us": 95_000, "attrs": {}},
                 {"id": 6, "parent": 3, "kind": "job", "name": "job 0", "start_us": 1_000, "end_us": 9_000, "attrs": {}},
                 {"id": 7, "parent": 6, "kind": "stage", "name": "stage 0.0", "start_us": 1_000, "end_us": 9_000,
                  "attrs": {"tasks": 2, "task_ms": 12, "run_ms": 8, "deser_ms": 1, "result_ser_ms": 1,
                            "read_rows": 10, "write_bytes": 1048576}},
                 {"id": 8, "parent": 5, "kind": "job", "name": "job 1", "start_us": 71_000, "end_us": 94_000, "attrs": {}},
                 {"id": 9, "parent": 8, "kind": "stage", "name": "stage 1.0", "start_us": 71_000, "end_us": 94_000,
                  "attrs": {"tasks": 2, "task_ms": 25, "run_ms": 25, "cpu_ns": 2_000_000}}]
        rec["passes"][2] = dict(rec["passes"][2], traced=True, span_id=1, wall_ms=2004.0,
                                queries=[self.query("q1", 60, 10, 25)])
        progress = [{"run_id": "r", "batch": 0, "start_us": 80_000, "input_rows": 3,
                     "duration_ms": {"triggerExecution": 40, "addBatch": 30}, "state_rows": 4,
                     "state_bytes": 2097152, "state_commit_ms": 2},
                    {"run_id": "r", "batch": 1, "start_us": 500_000, "input_rows": 3,
                     "duration_ms": {"triggerExecution": 40}, "state_rows": 4,
                     "state_bytes": 0, "state_commit_ms": 2}]
        rec["trace"] = {"spans": spans, "stream_progress": progress}
        got = metrics.per_layer(rec, {"q1": "graph"}, ["graph", "tx"])
        self.assertEqual(got["query.wall_ms"], 100)
        self.assertAlmostEqual(got["trace.span_coverage"], 0.95)
        self.assertEqual(got["entry.build_ms"], 60)
        self.assertEqual(got["entry.build_ms.graph"], 60)
        self.assertEqual(got["entry.build_ms.tx"], 0)
        self.assertEqual(got["entry.eager_jobs"], 1)
        self.assertEqual(got["entry.eager_task_ms"], 12)
        self.assertEqual(got["sched.jobs"], 2)
        self.assertEqual(got["sched.stages"], 2)
        self.assertEqual(got["sched.tasks"], 4)
        self.assertEqual(got["sched.delay_ms"], 2)
        self.assertAlmostEqual(got["sched.slot_idle_ratio"], 0.5)
        self.assertEqual(got["exec.ms"], 25)
        self.assertEqual(got["exec.cpu_ms"], 2)
        self.assertEqual(got["io.read_mb"], 3)
        self.assertEqual(got["io.write_mb"], 1)
        self.assertEqual(got["io.rows_examined_per_row_out"], 5)
        self.assertEqual(got["stream.triggers"], 1)
        self.assertEqual(got["stream.add_batch_ms"], 30)
        self.assertEqual(got["stream.state_mb"], 2)
        self.assertAlmostEqual(got["trace.overhead_ratio"], 2004.0 / 1003.0)
        self.assertEqual(got["suite_s"], 1.003)
        self.assertEqual(got["host.ref_ms"], 100.0)


if __name__ == "__main__":
    unittest.main()
