"""Tests of the benchmark itself (not of the engine).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import metrics  # noqa: E402

SMALL_CORPUS = 300
SMALL_ETL = dict(policies=400, claims=1200, dirt=3)


class GeneratorTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.addCleanup(self.tmp.cleanup)

    def dirs(self, *names):
        return [os.path.join(self.tmp.name, n) for n in names]

    def test_same_seed_gives_byte_identical_files(self):
        a, b = self.dirs("a", "b")
        for d in (a, b):
            gen.corpus(7, d, docs=SMALL_CORPUS)
            gen.etl(7, d, **SMALL_ETL)
        names = ["corpus.parquet", "corpus_truth.json", "claims.csv", "policies.csv",
                 "etl_truth.json"]
        match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual(sorted(match), sorted(names), (mismatch, errors))

    def test_other_seed_gives_other_files(self):
        a, b = self.dirs("a", "b")
        for seed, d in ((7, a), (8, b)):
            gen.corpus(seed, d, docs=SMALL_CORPUS)
            gen.etl(seed, d, **SMALL_ETL)
        for name in ("corpus.parquet", "claims.csv", "policies.csv"):
            self.assertFalse(filecmp.cmp(os.path.join(a, name), os.path.join(b, name),
                                         shallow=False), name)

    def test_corpus_truth_plants_every_case(self):
        (d,) = self.dirs("c")
        truth = gen.corpus(3, d, docs=SMALL_CORPUS)
        self.assertGreater(truth["exact_groups"], 0)
        self.assertGreater(len(truth["near_clusters"]), 0)
        kept_ids = {k for k, _ in truth["kept"]}
        for cluster in truth["near_clusters"]:
            self.assertEqual(len(kept_ids & set(cluster)), 1, cluster)
        self.assertLess(len(truth["kept"]), truth["rows"])

    def test_etl_truth_breaks_every_rule(self):
        (d,) = self.dirs("e")
        truth = gen.etl(3, d, **SMALL_ETL)
        rules = {f"silver_claims/{n}" for n, _ in gen._claims_rules()} | \
                {f"silver_policies/{n}" for n, _ in gen._policies_rules()} | \
                {"silver_claims/unique_claim_id", "silver_policies/unique_policy_id"}
        self.assertEqual(set(truth["violations"]), rules)
        for entity in ("claims", "policies"):
            self.assertGreater(truth["ingests"][entity]["duplicates_removed"], 0)


class PercentileRuleTest(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50)
        self.assertEqual(metrics.tail_percentile(39), 50)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(255), 95)
        self.assertEqual(metrics.tail_percentile(1000), 99)

    def test_gate_panel_supports_the_reported_tail(self):
        with open(os.path.join(HERE, "gate_panel.txt")) as f:
            gates = [ln.strip() for ln in f if ln.strip() and not ln.startswith("#")]
        self.assertEqual(len(gates), len(set(gates)))
        self.assertEqual(metrics.tail_percentile(len(gates)), 50)


class BenchmarkJsonTest(unittest.TestCase):

    def test_emitted_metric_names_match_benchmark_json(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         metrics.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         metrics.PER_LAYER)

    def test_workloads_match_benchmark_json(self):
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS[:2]))


if __name__ == "__main__":
    unittest.main()
