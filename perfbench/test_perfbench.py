"""The benchmark's own tests: deterministic inputs, the percentile and
self-time arithmetic, and the comparison verdicts.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

SMALL = {"curate_docs": 40, "curate_vectors": 50, "serve_vectors": 300,
         "serve_append_batches": 3, "serve_append_rows": 4, "ingest_batches": 3,
         "ingest_batch": 25, "fn_rows": 60,
         "fn_kernel_rows": 80, "fn_media_rows": 20}


def digest_of(workload, seed):
    with tempfile.TemporaryDirectory() as d:
        gen.write_all(gen.tables_for(workload, seed, SMALL), d)
        return gen.digest(d)


class Generation(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        for w in run.WORKLOADS:
            self.assertEqual(digest_of(w, 7), digest_of(w, 7), w)

    def test_other_seed_gives_other_inputs(self):
        for w in run.WORKLOADS:
            self.assertNotEqual(digest_of(w, 7), digest_of(w, 8), w)

    def test_fn_tables_are_deterministic(self):
        def d(seed):
            with tempfile.TemporaryDirectory() as t:
                gen.write_all(gen.fn_tables(seed, SMALL), t)
                return gen.digest(t)
        self.assertEqual(d(3), d(3))

    def test_ingest_stream_has_exact_dup_share_and_no_chains(self):
        import numpy as np
        rng = np.random.Generator(np.random.PCG64(5))
        t = gen.ingest_stream(rng, 4, 25, dup_share=0.2)
        self.assertEqual(t.num_rows, 100)
        texts = t.column("text").to_pylist()
        # a copy differs from its original in one word; originals are drawn
        # independently, so one-word neighbours come in pairs only
        def close(a, b):
            x, y = a.split(), b.split()
            return len(x) == len(y) and sum(p != q for p, q in zip(x, y)) <= 1
        partners = [sum(close(a, b) for b in texts[:i]) for i, a in enumerate(texts)]
        self.assertLessEqual(max(partners), 1)
        self.assertLessEqual(sum(partners), 20)

    def test_serve_appends_follow_the_corpus(self):
        import numpy as np
        rng = np.random.Generator(np.random.PCG64(1))
        corpus = gen.serve_corpus(rng, 100)
        app = gen.serve_appends(rng, corpus, 2, 3)
        self.assertEqual(app.column("vec_id").to_pylist(), list(range(100, 106)))
        self.assertEqual(app.column("first").to_pylist(), [True, False, False] * 2)


class Percentiles(unittest.TestCase):
    def test_percentile_interpolates_like_numpy(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.median(xs), 2.5)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 3.7)

    def test_tail_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.tail_pct(10), 50)
        self.assertEqual(stats.tail_pct(19), 50)
        self.assertEqual(stats.tail_pct(20), 50)
        self.assertEqual(stats.tail_pct(100), 90)
        self.assertEqual(stats.tail_pct(1000), 99)
        self.assertEqual(stats.tail_pct(10_000), 99)
        for n in (20, 37, 100, 250, 1000):
            p = stats.tail_pct(n)
            self.assertGreaterEqual(n - n * p / 100, 10 - 1e-9, n)
        v, p = stats.tail(list(range(1, 101)))
        self.assertEqual(p, 90)
        self.assertAlmostEqual(v, 90.1)

    def test_quartile_spread_matches_statistics(self):
        xs = [1.0, 1.1, 0.9, 1.2, 1.05, 0.95, 1.0, 1.15, 0.98, 1.02]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / q2)


class SelfTime(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_covered_child_time(self):
        # op 0..100 (queries); children construct 0..30 and two overlapping
        # spark spans 40..70 and 60..90; a grandchild 45..50 under 40..70
        spans = [
            (1, -1, 1, "queries", "op", 0, 100),
            (2, 1, 1, "queries", "construct", 0, 30),
            (3, 1, 1, "spark", "plan", 40, 70),
            (4, 1, 1, "spark", "execute", 60, 90),
            (5, 3, 1, "core", "load", 45, 50),
        ]
        st = stats.self_times(spans)
        self.assertEqual(st["queries"], (100 - 30 - 50) + 30)
        self.assertEqual(st["spark"], (30 - 5) + 30)
        self.assertEqual(st["core"], 5)
        # overlapping siblings (checks run in parallel) each keep their own
        # time, so self times sum past the root's wall time by the overlap
        self.assertEqual(sum(st.values()), 100 + 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [(1, -1, 1, "a", "x", 10, 20), (2, 1, 1, "b", "y", 15, 30)]
        self.assertEqual(stats.self_times(spans)["a"], 5)


class Verdicts(unittest.TestCase):
    def test_clear_win_is_improved(self):
        parent = [1.0, 1.02, 0.98, 1.01, 0.99, 1.0, 1.03, 0.97, 1.0, 1.01]
        change = [x * 0.8 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "improved")

    def test_clear_win_over_too_few_pairs_is_unresolved(self):
        parent = [1.0, 1.02, 0.98]
        change = [x * 0.8 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "unresolved")

    def test_same_code_is_no_worse(self):
        parent = [1.0, 1.02, 0.98, 1.01, 0.99, 1.0, 1.03, 0.97, 1.0, 1.01]
        change = list(reversed(parent))
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "no worse")

    def test_beyond_bound_is_regressed(self):
        parent = [1.0, 1.02, 0.98, 1.01, 0.99]
        change = [x * 1.3 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "regressed")

    def test_wide_spread_is_unresolved(self):
        parent = [1.0, 2.0, 0.5, 1.5, 0.7]
        change = [1.1, 1.9, 0.6, 1.4, 0.9]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)["verdict"], "unresolved")

    def test_higher_is_better(self):
        parent = [10.0, 10.1, 9.9, 10.0, 10.05, 9.95, 10.0, 10.1, 9.9, 10.0]
        change = [x * 1.2 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "higher", 0.1)["verdict"], "improved")


class Reports(unittest.TestCase):
    def test_sum_and_count_become_means(self):
        v = run.derive_means({"a.sum": 6.0, "a.n": 3.0, "b": 1.0})
        self.assertEqual(v, {"a": 2.0, "b": 1.0})


if __name__ == "__main__":
    unittest.main()
