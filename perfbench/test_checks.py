"""Tests of the benchmark's output checks: each check passes clean output
and rejects a planted fault. Needs no Spark and no build.

    python3 perfbench/test_checks.py
"""
import os
import sys
import unittest

import duckdb
import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402


class HashPorts(unittest.TestCase):

    def test_xxhash64_matches_spark(self):
        # values of Spark's XXH64.hashUnsafeBytes(..., seed 42)
        self.assertEqual(checks.xxhash64(b"abc"), 1423657621850124518)
        self.assertEqual(checks.xxhash64(b""), -7444071767201028348)
        self.assertEqual(checks.xxhash64(b"abcdefgh"), 2470326616177429180)
        self.assertEqual(checks.xxhash64(b"hello world, this is a longer string over 32 bytes!"),
                         2103984750981300048)

    def test_vectorised_xxhash64_agrees(self):
        grams = [b"abcdefgh", b"12345678", b"zzzzzzzz"]
        lanes = np.array([int.from_bytes(g, "little") for g in grams], dtype=np.uint64)
        self.assertEqual(checks.xxhash64_8(lanes).tolist(), [checks.xxhash64(g) for g in grams])

    def test_java_random(self):
        r = checks.JavaRandom(42)
        self.assertEqual(r._next(32), -1170105035)
        self.assertEqual(checks.JavaRandom(42).next_double(), 0.7275636800328681)


class CrawlChecks(unittest.TestCase):

    def setUp(self):
        self.expected = {"u1", "u2", "u3"}
        self.ordering = [(0, "www.104.com.tw", "u1"), (0, "www.104.com.tw", "u2"),
                         (1, "www.cake.me", "u3")]

    def test_clean_schedule_passes(self):
        self.assertEqual(checks.check_schedule([u for *_, u in self.ordering], self.expected), [])

    def test_dropped_url_rejected(self):
        self.assertTrue(checks.check_schedule(["u1", "u2"], self.expected))

    def test_url_scheduled_twice_rejected(self):
        self.assertTrue(checks.check_schedule(["u1", "u2", "u3", "u2"], self.expected))

    def test_budget_overrun_rejected(self):
        self.assertEqual(checks.check_budgets(self.ordering, 1.0), [])
        cap = checks.budget_cap("www.cake.me", 1.0)  # floor(1.5 * 5 * 1) = 7
        rows = [(0, "www.cake.me", f"c{i}") for i in range(cap + 1)]
        self.assertTrue(checks.check_budgets(rows, 1.0))
        self.assertEqual(checks.check_budgets(rows[:-1], 1.0), [])

    def _rank_tables(self, ordering):
        con = duckdb.connect()
        con.execute("CREATE TABLE rank_input (round INT, host VARCHAR, canon_url VARCHAR, "
                    "priority DOUBLE, budget INT)")
        con.executemany("INSERT INTO rank_input VALUES (?, ?, ?, ?, ?)", [
            (0, "h", "a", 2.0, 2), (0, "h", "b", 1.0, 2), (0, "h", "c", 0.5, 2),
            (0, "g", "d", 1.0, 5)])
        con.execute("CREATE TABLE ordering (round INT, host VARCHAR, sched_rank INT, "
                    "canon_url VARCHAR)")
        con.executemany("INSERT INTO ordering VALUES (?, ?, ?, ?)", ordering)
        return con

    def test_ranks(self):
        good = [(0, "h", 1, "a"), (0, "h", 2, "b"), (0, "g", 1, "d")]
        self.assertEqual(checks.check_ranks(self._rank_tables(good)), [])
        swapped = [(0, "h", 2, "a"), (0, "h", 1, "b"), (0, "g", 1, "d")]
        self.assertTrue(checks.check_ranks(self._rank_tables(swapped)))
        over_budget = good + [(0, "h", 3, "c")]
        self.assertTrue(checks.check_ranks(self._rank_tables(over_budget)))

    def test_planted_fields(self):
        want = {"u": {"title": "t", "source_id": "s", "salary_min": 1, "salary_max": 2}}
        self.assertEqual(checks.check_fields([("u", "t", "s", 1, 2)], want), [])
        self.assertTrue(checks.check_fields([("u", "t", "s", 1, 3)], want))
        self.assertTrue(checks.check_fields([("u", "t2", "s", 1, 2)], want))
        self.assertTrue(checks.check_fields([], want))

    def test_expected_crawl_is_a_function_of_the_seed(self):
        a = checks.expected_crawl(7, 400)
        self.assertEqual(a, checks.expected_crawl(7, 400))
        self.assertNotEqual(a[0], checks.expected_crawl(8, 400)[0])
        # the 5 platforms x 7 categories x 2 listing pages are always scheduled
        self.assertEqual(sum(1 for u in a[0] if "/cat" in u or "job_check=cat" in u), 70)


class NearDupChecks(unittest.TestCase):

    def test_missing_pair_rejected(self):
        exact = {(1, 2, 1.0), (3, 4, 0.9)}
        self.assertEqual(checks.check_pairs("op", set(exact), exact), [])
        self.assertTrue(checks.check_pairs("op", {(1, 2, 1.0)}, exact))
        self.assertTrue(checks.check_pairs("op", exact | {(5, 6, 0.95)}, exact))
        self.assertTrue(checks.check_planted("op", {(1, 2)}, [(1, 2), (3, 4)]))

    def test_exact_pairs_of_a_small_corpus(self):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = [(1, "s0", base), (1000001, "s0", base + " alpha"),
                (2, "s0", "lambda mu nu xi omicron pi rho sigma tau upsilon"),
                (3, "s1", base.replace("alpha", "alphx"))]
        con = duckdb.connect()
        con.execute("CREATE TABLE docs (doc_id BIGINT, source VARCHAR, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?, ?)", docs)
        p = {"minhash_threshold": 0.8, "simhash_threshold": 0.8, "simhash_max_dist": 3,
             "ngram_threshold": 0.7, "edit_max_dist": 2, "edit_prefix": 30, "winnow_k": 8,
             "winnow_w": 4, "winnow_min_shared": 2, "winnow_max_df": 1000,
             "new_base": 1000000, "fresh_base": 2000000}
        exp = checks.neardup_expected(con, p)
        pairs = {(a, b) for a, b, _ in exp["minhash"]}
        self.assertIn((1, 1000001), pairs)          # same token set
        self.assertIn((1, 3), pairs)                # one word changed: 9/11
        self.assertNotIn((1, 2), pairs)
        self.assertEqual({(a, b) for a, b, _ in exp["minhash_incremental"]},
                         {(1, 1000001), (3, 1000001)})
        self.assertIn((1, 1000001, 1.0), exp["simhash"])
        self.assertEqual({(s, a, b) for s, a, b, _ in exp["ngram_lsh"]}, {("s0", 1, 1000001)})
        self.assertIn(("s0", 1, 1000001, 0), exp["edit_distance"])
        self.assertIn((1, 1000001), {(a, b) for a, b, _ in exp["winnow"]})


if __name__ == "__main__":
    unittest.main()
