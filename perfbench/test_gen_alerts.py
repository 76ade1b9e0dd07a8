#!/usr/bin/env python3
"""The alert generator is a pure function of its seed.

    python3 perfbench/test_gen_alerts.py      # from the checkout root
"""
import gzip
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen_alerts  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def digests(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = hashlib.sha256(fh.read()).hexdigest()
    return out


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        base = os.path.join(os.getcwd(),
                            os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        os.makedirs(base, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="gen-test-", dir=base)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def gen(self, name, seed):
        d = os.path.join(self.tmp, name)
        return d, gen_alerts.generate(d, seed, files=2, alerts=400,
                                      mean_hist=12.0)

    def test_same_seed_gives_identical_files(self):
        a, ea = self.gen("a", 42)
        b, eb = self.gen("b", 42)
        self.assertEqual(digests(a), digests(b))
        self.assertEqual(ea, eb)

    def test_other_seed_gives_other_files(self):
        a, _ = self.gen("a", 42)
        c, _ = self.gen("c", 43)
        self.assertNotEqual(digests(a), digests(c))

    def test_histories_vary_in_length_and_stamps_are_gzipped_fits(self):
        d, expected = self.gen("a", 7)
        t = pq.read_table(os.path.join(d, "alerts-00000.parquet"))
        lens = [len(h) for h in t.column("prv_candidates").to_pylist()]
        self.assertGreater(len(set(lens)), 5)
        stamp = t.column("cutoutScience").to_pylist()[0]["stampData"]
        self.assertEqual(stamp[:2], b"\x1f\x8b")
        self.assertTrue(gzip.decompress(stamp).startswith(b"SIMPLE  ="))
        # every pure-predicate filter selects something, but not everything
        for f, n in expected["alerts-00000.parquet"].items():
            self.assertTrue(0 < n < 400, f)


if __name__ == "__main__":
    unittest.main()
