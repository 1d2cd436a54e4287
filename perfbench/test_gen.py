"""Pins the input generator's determinism: the same seed gives
byte-identical files for every workload, and another seed gives other
inputs.

    python3 perfbench/test_gen.py
"""
import filecmp
import os
import shutil
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402

SCRATCH = os.path.join(BENCH, ".work", "test_gen")


def files(d):
    return sorted(os.path.relpath(os.path.join(r, f), d) for r, _, fs in os.walk(d) for f in fs)


class GeneratorDeterminism(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                a, b = os.path.join(SCRATCH, w, "a"), os.path.join(SCRATCH, w, "b")
                gen.generate(w, 7, a)
                gen.generate(w, 7, b)
                names = files(a)
                self.assertEqual(names, files(b))
                self.assertIn("truth.json", names)
                _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
                self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_other_inputs(self):
        a, b = os.path.join(SCRATCH, "s7"), os.path.join(SCRATCH, "s8")
        gen.generate("corpus_dedup", 7, a)
        gen.generate("corpus_dedup", 8, b)
        self.assertFalse(filecmp.cmp(os.path.join(a, "documents.parquet"),
                                     os.path.join(b, "documents.parquet"), shallow=False))


if __name__ == "__main__":
    unittest.main()
