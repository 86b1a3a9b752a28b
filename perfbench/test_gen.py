"""Determinism test of the benchmark's input generator.

    python3 perfbench/test_gen.py      (from the root of a checkout)

The same seed must write byte-identical inputs (same content hash), and
a different seed different ones.
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import gen  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(".bench_build", exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix="test-gen-", dir=".bench_build")

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def test_seeded(self):
        for w in gen.GENERATORS:
            with self.subTest(workload=w):
                a = gen.generate(w, 7, f"{self.dir}/{w}-a")
                b = gen.generate(w, 7, f"{self.dir}/{w}-b")
                c = gen.generate(w, 8, f"{self.dir}/{w}-c")
                self.assertEqual(a["sha256"], b["sha256"])
                self.assertEqual(a["sha256"], gen.content_hash(f"{self.dir}/{w}-b"))
                self.assertNotEqual(a["sha256"], c["sha256"])

    def test_planted_pairs_straddle_tau(self):
        import pyarrow.parquet as pq
        gen.generate("corpus_lifecycle", 7, f"{self.dir}/c")
        j = pq.read_table(f"{self.dir}/c/planted.parquet").column("jaccard").to_pylist()
        self.assertTrue(any(x >= 0.8 for x in j) and any(x < 0.8 for x in j))


if __name__ == "__main__":
    unittest.main()
