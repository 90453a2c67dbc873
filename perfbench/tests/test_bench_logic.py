"""Tests of the benchmark's own pure logic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import inputs  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_percentile_leaves_ten_samples_beyond(self):
        for n in (11, 50, 99, 320, 400, 999, 1000, 5000):
            values = list(range(1, n + 1))
            q, v = stats.tail(values)
            self.assertGreaterEqual(n - v, 10, (n, q, v))
            self.assertLessEqual(q, 99.0)

    def test_percentile_choice(self):
        self.assertEqual(stats.tail_quantile(1000), 99.0)
        self.assertEqual(stats.tail_quantile(5000), 99.0)   # capped
        self.assertEqual(stats.tail_quantile(400), 97.5)
        self.assertEqual(stats.tail_quantile(320), 96.8)   # rounds down
        self.assertIsNone(stats.tail_quantile(10))

    def test_too_few_samples_reports_the_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (None, 3.0))

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)

    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 2.0, 2.0]), 2.0)

    def test_a_sample_that_never_completed_is_slower_than_any(self):
        v = stats.missing_as_inf([5.0, None, 1.0, None, None])
        self.assertEqual(stats.median(v), float("inf"))
        self.assertEqual(stats.median(stats.missing_as_inf([1.0, None, 2.0])),
                         2.0)


class RampRule(unittest.TestCase):
    def test_pass(self):
        ok, why = stats.step_passes([10.0] * 200, [900.0] * 190, 40, 42,
                                    rate=50, hold_s=4)
        self.assertTrue(ok, why)

    def test_post_p99_over_limit(self):
        post = [10.0] * 95 + [150.0] * 5
        ok, why = stats.step_passes(post, [900.0] * 90, 0, 0, 25, 4)
        self.assertFalse(ok)
        self.assertIn("post p99", why[0])

    def test_failed_request_counts_as_a_miss(self):
        post = [10.0] * 98 + [None] * 2
        ok, _ = stats.step_passes(post, [900.0] * 90, 0, 0, 25, 4)
        self.assertFalse(ok)

    def test_unlanded_point_counts_as_a_miss(self):
        ok, why = stats.step_passes([10.0] * 100, [900.0] * 97 + [None] * 3,
                                    0, 0, 25, 4)
        self.assertFalse(ok)
        self.assertIn("landed p99", why[0])

    def test_growing_backlog(self):
        # 80 req/s over a 4 s step: 160 arrivals in the second half,
        # a quarter of them (40) may accumulate
        self.assertTrue(stats.step_passes([5.0] * 320, [800.0] * 300,
                                          100, 140, 80, 4)[0])
        ok, why = stats.step_passes([5.0] * 320, [800.0] * 300, 100, 141,
                                    80, 4)
        self.assertFalse(ok)
        self.assertIn("backlog", why[0])


class SelfTime(unittest.TestCase):
    def test_disjoint_children(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 20), (30, 50)]), 70)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 40), (30, 60)]), 50)

    def test_children_are_clipped_to_the_parent(self):
        self.assertEqual(stats.self_time((10, 20), [(0, 15), (18, 30)]), 3)

    def test_levels_add_up_to_the_root(self):
        root, action, jobs = (0, 100), (10, 90), [(20, 40), (50, 80)]
        total = (stats.self_time(root, [action]) +
                 stats.self_time(action, jobs) + stats.covered(jobs))
        self.assertEqual(total, 100)


class SeededInputs(unittest.TestCase):
    def test_corpus_draw_is_deterministic(self):
        self.assertEqual(inputs.corpus_queries(7), inputs.corpus_queries(7))
        draws = {tuple(sorted(inputs.corpus_queries(s))) for s in range(20)}
        self.assertGreater(len(draws), 1)

    def test_corpus_draw_covers_core_and_one_per_drawn_pool(self):
        for seed in range(30):
            names = inputs.corpus_queries(seed)
            self.assertTrue(set(inputs.CORE_QUERIES) <= set(names))
            drawn = set(names) - set(inputs.CORE_QUERIES)
            self.assertEqual(len(drawn), inputs.DRAWN_POOLS)
            pools = {p for p, qs in inputs.DRAW_POOLS.items()
                     if drawn & set(qs)}
            self.assertEqual(len(pools), inputs.DRAWN_POOLS)

    def test_body_mix_is_deterministic(self):
        def sched(seed):
            return inputs.schedule(inputs.BodyMix(seed), 40, 3, 4)
        self.assertEqual(sched(5), sched(5))
        self.assertNotEqual(sched(5), sched(6))

    def test_body_mix_shares(self):
        mix = inputs.BodyMix(1)
        kinds = [mix.next()[1] for _ in range(20000)]
        share = {k: kinds.count(k) / len(kinds) for k in set(kinds)}
        self.assertAlmostEqual(share["invalid"], inputs.INVALID_SHARE,
                               delta=0.005)
        self.assertAlmostEqual(share["resend"], inputs.RESEND_SHARE,
                               delta=0.005)

    def test_history_is_deterministic_and_apart_from_the_mix(self):
        import tempfile
        import pyarrow.parquet as pq

        def keys(seed, d):
            self.assertEqual(inputs.write_history(seed, d, 100, 7), (7, 100))
            return [k for n in sorted(os.listdir(d))
                    for k in pq.read_table(os.path.join(d, n))
                    .column("msg_key").to_pylist()]
        with tempfile.TemporaryDirectory() as t:
            a = keys(3, os.path.join(t, "a"))
            self.assertEqual(a, keys(3, os.path.join(t, "b")))
            self.assertNotEqual(a, keys(4, os.path.join(t, "c")))
        self.assertEqual(len(a), len(set(a)))
        mix = inputs.BodyMix(3)
        sent = {inputs.cot_model(json.loads(b))["msg_key"]
                for b, k in (mix.next() for _ in range(2000)) if k == "valid"}
        self.assertFalse(sent & set(a))
        self.assertTrue(all(k.split("@")[1] < "2024" for k in a))

    def test_new_points_have_distinct_keys(self):
        mix = inputs.BodyMix(2)
        keys = [inputs.cot_model(json.loads(b))["msg_key"]
                for b, k in (mix.next() for _ in range(5000))
                if k == "valid"]
        self.assertEqual(len(keys), len(set(keys)))


class CotModel(unittest.TestCase):
    def body(self, **kw):
        b = {"entityId": 12, "deviceId": 84, "name": "Tracker 12",
             "deviceType": "inReach Mini",
             "trackPoint": {"time": 1704067200123, "direction": 90,
                            "isEmergency": False,
                            "point": {"x": 1.5, "y": -2.25}}}
        b.update(kw)
        return b

    def test_fields(self):
        m = inputs.cot_model(self.body(alias="a12"))
        self.assertEqual(m["id"], "inreach-12")
        self.assertEqual(m["time"], "2024-01-01T00:00:00.123Z")
        self.assertEqual(m["msg_key"], "inreach-12@2024-01-01T00:00:00.123Z")
        self.assertEqual(m["ptype"], inputs.FRIENDLY_TYPE)
        self.assertEqual(m["callsign"], "a12")
        self.assertEqual(m["course"], 90.0)
        self.assertEqual(m["coordinates"], [1.5, -2.25])

    def test_falsy_alias_falls_back_to_name(self):
        self.assertEqual(inputs.cot_model(self.body(alias=""))["callsign"],
                         "Tracker 12")
        self.assertEqual(inputs.cot_model(self.body())["callsign"],
                         "Tracker 12")

    def test_emergency(self):
        b = self.body()
        b["trackPoint"]["isEmergency"] = True
        self.assertEqual(inputs.cot_model(b)["ptype"], inputs.EMERGENCY_TYPE)


class SelfcheckParse(unittest.TestCase):
    def test_failures_are_the_names_under_the_fail_heading(self):
        out = ("PASS 2: q_a q_b\nSKIP (no oracle) 0: \nFAIL 2:\n"
               "  q_c: row count 3 vs 4\n  q_d: oracle present but no "
               "result dir (query crashed in Verify?)\n")
        self.assertEqual(corpus.selfcheck_failures(out), {"q_c", "q_d"})
        self.assertEqual(corpus.selfcheck_failures("PASS 1: q\nFAIL 0:\n"),
                         set())


if __name__ == "__main__":
    unittest.main()
