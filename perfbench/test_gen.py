"""Tests for the seeded input generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The same seed must give byte-identical inputs; another seed must give
different inputs of the same size with the same planted statistics.
"""
import hashlib
import json
import math
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import gen

TMP = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".bench_build", "tmp")


def digest(root):
    """{relative path: sha256} of every file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def rows(root):
    return {p: pq.ParquetFile(os.path.join(root, p)).metadata.num_rows
            for p in digest(root) if p.endswith(".parquet")}


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(TMP, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=TMP)

    def tearDown(self):
        self.tmp.cleanup()

    def run_gen(self, name, seed, tag):
        out = os.path.join(self.tmp.name, tag)
        info = gen.GENERATORS[name](seed, out)
        return out, info

    def check(self, name):
        a, ia = self.run_gen(name, 5, "a")
        b, ib = self.run_gen(name, 5, "b")
        c, ic = self.run_gen(name, 6, "c")
        self.assertEqual(digest(a), digest(b), "same seed, different bytes")
        self.assertEqual(ia, ib)
        da, dc = digest(a), digest(c)
        self.assertEqual(sorted(da), sorted(dc), "another seed changed the file set")
        self.assertTrue(any(da[p] != dc[p] for p in da), "another seed gave the same bytes")
        return (a, ia), (c, ic)

    def test_curation(self):
        (a, ia), (c, ic) = self.check("llm-curation")
        self.assertEqual(rows(a), rows(c))
        for info in (ia, ic):
            self.assertAlmostEqual(info["planted_share"], gen.CUR_DUP_SHARE, places=3)
            self.assertEqual(info["planted_pairs"], round(gen.CUR_BASE_DOCS * gen.CUR_DUP_SHARE))
        truth_a = json.load(open(os.path.join(a, "truth.json")))
        truth_c = json.load(open(os.path.join(c, "truth.json")))
        self.assertNotEqual(truth_a["planted_pairs"], truth_c["planted_pairs"])
        self.assertEqual(len(truth_a["knn_sample"]), gen.CUR_KNN_SAMPLE)
        # Similarity.autoCentroids: ceil(n / 128), floor 16 cells
        self.assertGreaterEqual(math.ceil(gen.CUR_VECTORS / 128), 3 * 16)

    def test_crystal(self):
        (a, ia), (c, ic) = self.check("crystal-store")
        self.assertEqual(rows(a), rows(c))
        self.assertEqual(ia["batches"], ic["batches"])


if __name__ == "__main__":
    unittest.main()
