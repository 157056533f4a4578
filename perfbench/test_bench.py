"""Tests of the benchmark's own code: the seeded generator and the checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import tempfile
import unittest

import check
import gen


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


class GeneratorTest(unittest.TestCase):

    def test_same_seed_gives_byte_identical_inputs(self):
        for workload in ("dag_trickle", "curation_batch"):
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(workload, 7, a)
                gen.generate(workload, 7, b)
                names = _files(a)
                self.assertEqual(names, _files(b))
                self.assertGreater(len(names), 1)
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), workload)

    def test_other_seed_gives_other_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate("dag_trickle", 7, a)
            gen.generate("dag_trickle", 8, b)
            f = os.path.join("rounds", "r0001", "topic_db.parquet")
            self.assertFalse(filecmp.cmp(os.path.join(a, f), os.path.join(b, f),
                                         shallow=False))

    def test_expected_counts_grow_every_round(self):
        with tempfile.TemporaryDirectory() as a:
            snaps = gen.generate("dag_trickle", 3, a)["expected"]
        for prev, cur in zip(snaps, snaps[1:]):
            for key in ("order_pre", "traffic_page", "dws_traffic_rows",
                        "dws_keyword_rows", "dim_user_info"):
                self.assertGreater(cur[key], prev[key], key)


class CheckTest(unittest.TestCase):

    def test_planted_dag_mismatch_is_caught(self):
        with tempfile.TemporaryDirectory() as a:
            expected = gen.gen_trickle(5, a)["expected"][2]
        self.assertEqual(check.compare(expected, dict(expected)), [])
        planted = dict(expected, order_pre=expected["order_pre"] + 1)
        bad = check.compare(expected, planted)
        self.assertEqual(len(bad), 1)
        self.assertIn("order_pre", bad[0])
        missing = {k: v for k, v in expected.items() if k != "dim_user_info_crc"}
        self.assertEqual(len(check.compare(expected, missing)), 1)

    def test_planted_curation_mismatch_is_caught(self):
        with tempfile.TemporaryDirectory() as a:
            expected = gen.generate("curation_batch", 5, a)["expected"]
        good = {k: v for k, v in expected.items()
                if k not in ("docs", "hll_exact", "vec_clusters")}
        good.update(ivf_wrong_cluster=0, hll_est=expected["hll_exact"])
        self.assertEqual(check.compare_curation(expected, good), [])
        for key, value in (("lsh_components", expected["lsh_components"] - 1),
                           ("ivf_wrong_cluster", 1),
                           ("hll_est", 2 * expected["hll_exact"])):
            bad = check.compare_curation(expected, dict(good, **{key: value}))
            self.assertEqual(len(bad), 1, key)

    def test_summary_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(check.summary([3.0]), (3.0, 50, 3.0, 1))
        med, p, _, n = check.summary([float(i) for i in range(100)])
        self.assertEqual((med, p, n), (49.5, 90, 100))


if __name__ == "__main__":
    unittest.main()
