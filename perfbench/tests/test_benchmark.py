"""Tests of the benchmark's own arithmetic and accounting.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
import stats  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        for n in (100, 200, 1000, 4321):
            p = stats.tail_percentile(n)
            beyond = lambda q: n - max(1, -(-q * n // 100))  # noqa: E731
            self.assertGreaterEqual(beyond(p), 10)
            if p < 99:
                self.assertLess(beyond(p + 1), 10)

    def test_short_runs_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_percentile(11), 50)
        self.assertEqual(stats.tail_percentile(20), 50)

    def test_fixed_tail_percentiles_follow_from_default_run_lengths(self):
        self.assertEqual(report.TAIL_PCT,
                         {"pipeline_daily": 50, "kernels_sf01": 50, "routing_storm": 99})
        # BENCHMARK.json records the same percentile in each workload's why
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            whys = {w["name"]: w["why"] for w in json.load(f)["workloads"]}
        for w, p in report.TAIL_PCT.items():
            self.assertIn(f"tail = p{p}", whys[w])

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 99), 99)
        self.assertEqual(stats.percentile([5.0], 50), 5.0)


class IntervalUnions(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        # children overlap at [3, 4]: the union covers 6, not 7
        self.assertAlmostEqual(stats.self_time((0, 10), [(1, 4), (3, 6), (8, 9)]), 4)

    def test_children_are_clipped_to_the_parent(self):
        self.assertAlmostEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)

    def test_driver_gap_is_wall_minus_union_not_sum(self):
        jobs = [(10, 50), (20, 60), (70, 80)]
        self.assertAlmostEqual(stats.driver_gap((0, 100), jobs), 40)
        self.assertNotAlmostEqual(stats.driver_gap((0, 100), jobs),
                                  100 - sum(e - s for s, e in jobs))

    def test_tree_self_times_add_up_to_the_covered_wall(self):
        spans = [(0, 10, -1), (0, 2, 0), (2, 8, 0), (8, 10, 0), (3, 5, 2), (5, 7, 2)]
        self.assertAlmostEqual(stats.tree_self_total(spans, 0, 10), 10)
        # overlapping siblings are counted twice: the coverage check sees it
        self.assertGreater(stats.tree_self_total(spans + [(1, 4, 0)], 0, 10), 10)
        self.assertAlmostEqual(stats.tree_self_total(spans, 0, 5), 5)

    def test_jobs_go_to_the_route_whose_group_ran_them(self):
        jobs = [{"group": "graft-order_lines-1f", "start": 10, "end": 20},
                {"group": "graft-revenue_7d-2e", "start": 12, "end": 30},
                {"group": "graft-order_lines-3d", "start": 90, "end": 95}]
        self.assertEqual(report._route_jobs(jobs, "order_lines", 0, 50), jobs[:1])


class FailedAccounting(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()
        pq.write_table(pa.table({"x": [1, 2, 3]}), f"{self.dir}/region.parquet")
        for t in ("nation", "customer", "orders", "lineitem", "documents", "embeddings"):
            pq.write_table(pa.table({"y": [0]}), f"{self.dir}/{t}.parquet")

    def _dump(self, q, values):
        os.makedirs(f"{self.dir}/check/{q}")
        pq.write_table(pa.table({"s": values}), f"{self.dir}/check/{q}/part-0.parquet")

    def test_planted_wrong_output_counts_every_op_of_its_query(self):
        self._dump("good", [6])
        self._dump("planted", [7])  # the oracle says 6
        oracles = {q: "SELECT CAST(SUM(x) AS BIGINT) AS s FROM region" for q in ("good", "planted")}
        res = {"extra": {"oracles": oracles, "check_dir": f"{self.dir}/check",
                         "order": ["good", "planted", "planted", "good", "planted"]}}
        failed, problems = report._check_kernels(res, self.dir)
        self.assertEqual(failed, 3)
        self.assertEqual(len(problems), 1)
        self.assertAlmostEqual(stats.failed_frac(5, failed), 0.6)

    def test_a_wrong_upstream_partition_fails_every_op_built_on_it(self):
        bad = {"order_lines": {"2000-01-10"}}
        hit = [d for d in (f"2000-01-{k:02d}" for k in range(8, 20))
               if check.pipeline_op_failed(d, bad)]
        self.assertEqual(hit, [f"2000-01-{k:02d}" for k in range(10, 17)])

    def test_expected_partitions_follow_the_landings(self):
        days = [f"2000-01-{k:02d}" for k in range(1, 10)]
        landed = [(t, d) for d in days for t in ("orders", "lineitem")]
        landed.remove(("lineitem", "2000-01-05"))
        exp = check.pipeline_expected(landed)
        self.assertNotIn("2000-01-05", exp["order_lines"])
        self.assertEqual(exp["status_summary"], set())
        exp = check.pipeline_expected(landed + [("lineitem", "2000-01-05")])
        self.assertEqual(exp["status_summary"], {"2000-01-07", "2000-01-08", "2000-01-09"})


class Inputs(unittest.TestCase):
    def test_the_seed_fixes_the_inputs(self):
        self.assertEqual(gen.storm(5), gen.storm(5))
        self.assertNotEqual(gen.storm(5)["events"], gen.storm(6)["events"])
        days = [f"d{i:02d}" for i in range(48)]
        a = gen.landing_order(5, days)
        self.assertEqual(a, gen.landing_order(5, days))
        self.assertNotEqual(a, gen.landing_order(6, days))
        self.assertNotEqual(a, sorted(a, key=lambda x: x[1]))  # some land out of order
        # every block of landings holds exactly its own days, both tables
        n = 2 * gen.PIPELINE_BLOCK
        for b in range(0, len(a), n):
            blk = days[b // 2:b // 2 + gen.PIPELINE_BLOCK]
            self.assertEqual(sorted(a[b:b + n]),
                             sorted((t, d) for d in blk for t in ("orders", "lineitem")))

    def test_storm_model_fires_each_join_once_despite_redelivery(self):
        spec = {"routes": [("r0", False, [("p", ("s", 0), None), ("p", ("s", 1), None)])],
                "events": [("e", 0, 0), ("e", 0, 0), ("e", 1, 0), ("e", 1, 0), ("sweep",)]}
        self.assertEqual(gen.storm_truth(spec), [("r0", 0)])

    def test_storm_model_waits_for_a_range_until_a_sweep(self):
        spec = {"routes": [("r0", False, [("p", ("s", 0), None), ("g", ("s", 1), 2)])],
                "events": [("e", 1, 1), ("e", 0, 1), ("e", 1, 0)]}
        self.assertEqual(gen.storm_truth(spec), [])
        spec["events"].append(("sweep",))
        self.assertEqual(gen.storm_truth(spec), [("r0", 1)])


class Declaration(unittest.TestCase):
    def test_benchmark_json_names_what_the_report_prints(self):
        with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], report.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
