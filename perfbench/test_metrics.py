"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest

import metrics as M
import run as R


class UnionOfJobIntervals(unittest.TestCase):
    def test_overlapping_and_nested_jobs_count_once(self):
        self.assertEqual(M.union_ms([(0, 10), (5, 15), (6, 7)]), 15)

    def test_disjoint_jobs_add_up(self):
        self.assertEqual(M.union_ms([(20, 30), (0, 10)]), 20)

    def test_clipped_to_the_entry_window(self):
        self.assertEqual(M.union_ms([(0, 10), (25, 40)], lo=5, hi=30), 10)
        self.assertEqual(M.union_ms([(0, 4)], lo=5, hi=30), 0)

    def test_between_jobs_is_wall_minus_union(self):
        self.assertEqual(M.self_ms((0, 100), [(10, 40), (30, 60), (90, 120)]), 40)


class HighestSupportedPercentile(unittest.TestCase):
    def test_needs_more_than_ten_samples(self):
        self.assertIsNone(M.tail(range(10)))

    def test_eleven_samples_give_the_lowest_value(self):
        value, pct, n = M.tail(range(11))
        self.assertEqual((value, pct, n), (0, 9, 11))

    def test_ten_samples_stay_beyond(self):
        for n in (11, 23, 40, 57, 100, 1000):
            xs = list(range(n))
            value, pct, _ = M.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            # one percentile higher would leave fewer than ten beyond
            if pct < 99:
                nxt = xs[-(-(pct + 1) * n // 100) - 1]
                self.assertLess(sum(1 for x in xs if x > nxt), 10, n)

    def test_known_points(self):
        self.assertEqual(M.tail(range(40))[:2], (29, 75))
        self.assertEqual(M.tail(range(1000))[:2], (989, 99))

    def test_order_of_samples_does_not_matter(self):
        self.assertEqual(M.tail([5, 1, 4, 2, 3, 9, 8, 7, 6, 0, 10, 11]),
                         M.tail(range(12)))


class OpenLoopLatency(unittest.TestCase):
    def test_on_time_generator(self):
        latency, lag = M.open_loop([{"due": 0, "handed_over": 0, "end": 30},
                                    {"due": 100, "handed_over": 100, "end": 120}])
        self.assertEqual(latency, [30, 20])
        self.assertEqual(lag, [0, 0])

    def test_late_generator_is_charged_from_the_due_time(self):
        # the second batch was due at 100 but handed over at 150, because
        # the first one stalled the pipeline: its latency counts the wait
        latency, lag = M.open_loop([{"due": 0, "handed_over": 0, "end": 140},
                                    {"due": 100, "handed_over": 150, "end": 180}])
        self.assertEqual(latency, [140, 80])
        self.assertEqual(lag, [0, 50])

    def test_early_hand_over_is_no_negative_lag(self):
        _, lag = M.open_loop([{"due": 100, "handed_over": 99.5, "end": 120}])
        self.assertEqual(lag, [0.0])


class ListenerAttribution(unittest.TestCase):
    """Listener records count toward the operation whose number they carry,
    whatever their time: the bus may deliver a stream's last progress
    after the entry's construct span ended."""

    def test_records_follow_their_operation_number(self):
        progress = dict(kind="progress", id="q", input_rows=5, add_batch_ms=0,
                        query_planning_ms=0, offset_ms=0, commit_ms=0,
                        state_rows=0, state_memory_bytes=0)
        records = [
            dict(progress, op=-1, ts=-50, trigger_ms=40),  # set-up, not timed
            dict(kind="phases", op=-1, analysis_ms=10, optimization_ms=20, planning_ms=30),
            dict(kind="job", op=1, id=0, start=100, end=400),
            dict(progress, op=1, ts=1050, trigger_ms=300),  # delivered late
            dict(kind="phases", op=1, analysis_ms=1, optimization_ms=2, planning_ms=3),
            dict(kind="entry", op=1, name="stream_x", start=0, constructed=1000, end=1100,
                 cpu_ms=1, rows=1, hash=1, error=None),
            dict(kind="end", rss_hwm_kb=1024, peak_live_heap_bytes=1),
        ]
        m = {k: v for k, (v, _) in R.per_layer(records, 1.1, 0.0, 0.0).items()}
        self.assertEqual(m["streaming.triggers"], 1)
        self.assertEqual(m["streaming.startup_ms"], 700)
        self.assertEqual(m["plans.planning_ms"], 3)
        self.assertEqual(m["operators.construct_jobs"], 1)
        self.assertEqual(m["spark.between_jobs_ms"], 800)


class OncePerProcess(unittest.TestCase):
    def test_duplicate_entry_is_refused(self):
        with self.assertRaises(ValueError):
            M.check_plan([], ["q1", "q6", "q1"])

    def test_duplicate_build_is_refused(self):
        with self.assertRaises(ValueError):
            M.check_plan(["_build_a", "_build_a"], ["q1"])

    def test_build_timed_as_entry_is_refused(self):
        with self.assertRaises(ValueError):
            M.check_plan(["_build_a"], ["_build_a"])

    def test_every_workload_plans_each_entry_once_in_seeded_order(self):
        spec = json.loads((R.BENCH / "workloads.json").read_text())
        for w in spec:
            if w == "pipeline_upsert":
                continue
            p1, p2 = R.plan_for(w, 1, 0), R.plan_for(w, 2, 0)
            self.assertEqual(p1["lead_in"], p2["lead_in"], w)
            lead = p1["lead_in"].split(",")
            a, b = lead + p1["entries"].split(","), lead + p2["entries"].split(",")
            self.assertEqual(len(a), len(set(a)), w)
            self.assertEqual(sorted(a), sorted(spec[w]["lead_in"] + spec[w]["entries"]), w)
            self.assertEqual(sorted(a), sorted(b), w)
            self.assertEqual(p1, R.plan_for(w, 1, 0), w)
            orders = {R.plan_for(w, s, 0)["entries"] for s in range(10)}
            self.assertGreater(len(orders), 1, w)


if __name__ == "__main__":
    unittest.main()
