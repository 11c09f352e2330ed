"""Tests for the seeded input generator and the end-to-end check path.

    python3 -m unittest discover -s perfbench/tests

The end-to-end test (a corrupted result must count as failed) starts the
harness JVM and takes about a minute; it runs only with PERFBENCH_SLOW=1.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def gen(self, workload, seed):
        d = tempfile.mkdtemp()
        return gen.generate(workload, seed, d)

    def test_same_seed_gives_byte_identical_tables(self):
        for w in gen.WORKLOADS:
            a, b = self.gen(w, 7), self.gen(w, 7)
            self.assertEqual(a["tables"], b["tables"], w)
            self.assertEqual(a["properties"], b["properties"], w)

    def test_other_seed_gives_other_tables(self):
        for w in gen.WORKLOADS:
            a, b = self.gen(w, 7), self.gen(w, 8)
            self.assertNotEqual(a["tables"]["documents" if w == "corpus_dedup" else "events"]["hash"],
                                b["tables"]["documents" if w == "corpus_dedup" else "events"]["hash"])

    def test_realized_event_shares_land_near_requested(self):
        c = gen.WORKLOADS["ingest_features"]
        p = self.gen("ingest_features", 3)["properties"]
        self.assertAlmostEqual(p["gated_share"], c["gated_share"], delta=0.02)
        self.assertAlmostEqual(p["missing_share"], c["missing_share"], delta=0.01)
        self.assertAlmostEqual(p["bad_props_share"], c["bad_props_share"], delta=0.01)
        self.assertAlmostEqual(p["zipf_exponent"], c["zipf_s"], delta=0.15)
        # invalid rows: the injected nulls plus the envelope's event_id % 97 rule
        self.assertGreater(p["invalid_share"], p["missing_share"])
        self.assertAlmostEqual(p["valid_rows"], c["events"] * (1 - p["invalid_share"]), delta=5)

    def test_corpus_shape(self):
        c = gen.WORKLOADS["corpus_dedup"]
        p = self.gen("corpus_dedup", 3)["properties"]
        self.assertEqual(p["cc_components"], 1 + c["cc_cliques"])
        self.assertEqual(p["arrival_files"], c["doc_files"])
        self.assertEqual(p["doc_families"], c["clique_families"] + c["chain_families"])


@unittest.skipUnless(os.environ.get("PERFBENCH_SLOW") == "1", "starts the harness JVM")
class CorruptedResultTest(unittest.TestCase):
    def test_corrupted_result_counts_as_failed(self):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                            "ingest_features", "--seed", "1", "--seconds", "1", "--trace", "0",
                            "--corrupt", "b15_salted_agg"],
                           cwd=os.path.dirname(BENCH), stdout=subprocess.PIPE, text=True)
        res = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], res["attempted"] // 3)  # every timed b15 call, nothing else


if __name__ == "__main__":
    unittest.main()
