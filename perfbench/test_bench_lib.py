"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s perfbench
"""

import collections
import unittest

import bench_lib


class SamplerTest(unittest.TestCase):
    def test_same_seed_same_sources(self):
        self.assertEqual(bench_lib.zipf_sources(1000, 200, 7),
                         bench_lib.zipf_sources(1000, 200, 7))
        self.assertEqual(bench_lib.uniform_sources(1000, 200, 7),
                         bench_lib.uniform_sources(1000, 200, 7))

    def test_other_seed_other_sources(self):
        self.assertNotEqual(bench_lib.zipf_sources(1000, 200, 7),
                            bench_lib.zipf_sources(1000, 200, 8))
        self.assertNotEqual(bench_lib.uniform_sources(1000, 200, 7),
                            bench_lib.uniform_sources(1000, 200, 8))

    def test_stream_is_pinned(self):
        # SplitMix64's published first output for seed 0
        self.assertEqual(bench_lib.SplitMix64(0).next_u64(), 0xE220A8397B1DCDAF)

    def test_sources_in_range(self):
        for xs in (bench_lib.zipf_sources(50, 500, 3), bench_lib.uniform_sources(50, 500, 3)):
            self.assertTrue(all(0 <= v < 50 for v in xs))

    def test_permutation_is_a_permutation(self):
        p = bench_lib.permutation(100, bench_lib.SplitMix64(5))
        self.assertEqual(sorted(p), list(range(100)))
        self.assertNotEqual(p, list(range(100)))

    def test_zipf_is_skewed_and_repeats(self):
        counts = collections.Counter(bench_lib.zipf_sources(10000, 5000, 11))
        top = counts.most_common(2)
        # rank 1 holds 1/H(10000) ~ 10% of the draws, rank 2 half that
        self.assertGreater(top[0][1], 350)
        self.assertLess(top[0][1], 650)
        self.assertAlmostEqual(top[0][1] / top[1][1], 2.0, delta=0.6)
        self.assertLess(len(counts), 5000 * 0.8)

    def test_uniform_is_flat(self):
        counts = collections.Counter(bench_lib.uniform_sources(10, 10000, 2))
        self.assertEqual(len(counts), 10)
        self.assertLess(max(counts.values()) - min(counts.values()), 200)


class PercentileTest(unittest.TestCase):
    def test_quantile_interpolates(self):
        self.assertEqual(bench_lib.quantile([4, 1, 3, 2], 0.5), 2.5)
        self.assertEqual(bench_lib.quantile([5], 0.9), 5)
        self.assertEqual(bench_lib.quantile([1, 2, 3], 1.0), 3)

    def test_tail_keeps_ten_beyond(self):
        xs = list(range(1, 101))  # 1..100
        pct, v = bench_lib.tail(xs)
        self.assertEqual(pct, 90.0)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_percentile_follows_count(self):
        pct, v = bench_lib.tail(list(range(40)))
        self.assertEqual((pct, v), (75.0, 29))
        pct, v = bench_lib.tail(list(range(30)))
        self.assertAlmostEqual(pct, 66.667, places=2)
        self.assertEqual(v, 19)

    def test_tail_falls_back_to_median(self):
        self.assertEqual(bench_lib.tail([3, 1, 2]), (50.0, 2))
        self.assertEqual(bench_lib.tail(list(range(19)))[0], 50.0)

    def test_tail_ignores_order(self):
        xs = [7, 1, 9, 3] * 10
        self.assertEqual(bench_lib.tail(xs), bench_lib.tail(sorted(xs)))


class AccountTest(unittest.TestCase):
    def raw(self, oks, untimed):
        return {"ops": [{"ok": ok} for ok in oks], "untimed": untimed}

    def test_counts_every_pass(self):
        raw = self.raw([True, False, True, True],
                       [{"name": "warm", "attempted": 2, "errors": ["boom"], "latency_ms": [1.0]}])
        attempted, failed, frac = bench_lib.account(raw)
        self.assertEqual((attempted, failed), (6, 2))
        self.assertAlmostEqual(frac, 2 / 6)

    def test_clean_run(self):
        self.assertEqual(bench_lib.account(self.raw([True] * 5, [])), (5, 0, 0.0))


class SelfTimeTest(unittest.TestCase):
    def span(self, id, parent, layer, start, end):
        return {"id": id, "parent": parent, "layer": layer, "name": layer,
                "op": 0, "start_ns": start, "end_ns": end}

    def test_children_are_subtracted(self):
        spans = [self.span(1, 0, "bench", 0, 100),
                 self.span(2, 1, "api", 10, 30),
                 self.span(3, 1, "spark", 30, 90),
                 self.span(4, 3, "kernel", 40, 60)]
        self.assertEqual(bench_lib.self_times(spans),
                         {"bench": 20, "api": 20, "spark": 40, "kernel": 20})

    def test_overlapping_children_count_once(self):
        # two client threads' children can overlap inside one parent
        spans = [self.span(1, 0, "bench", 0, 100),
                 self.span(2, 1, "api", 10, 50),
                 self.span(3, 1, "api", 40, 70),
                 self.span(4, 1, "api", 80, 120)]
        self.assertEqual(bench_lib.self_times(spans)["bench"], 100 - 60 - 20)

    def test_layers_sum_over_spans(self):
        spans = [self.span(1, 0, "graph", 0, 5), self.span(2, 0, "graph", 10, 12)]
        self.assertEqual(bench_lib.self_times(spans), {"graph": 7})


if __name__ == "__main__":
    unittest.main()
