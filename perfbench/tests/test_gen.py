"""The generators are pure functions of the seed.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402

DATA = os.path.join(os.path.dirname(HERE), "data", "sf0.01")
SMALL = {
    "corpus": lambda d, seed: gen.corpus(d, seed, DATA, dup_share=0.2),
    "deliveries": lambda d, seed: gen.deliveries(
        d, seed, days=3, keys=80, update_share=0.1, insert_share=0.05, delete_share=0.05,
        reject_share=0.05, txn_per_day=40, events_per_day=30),
}


def snapshot(root):
    """Relative path -> bytes of every file under root."""
    out = {}
    for base, _, files in os.walk(root):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorSeedTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-gen-", dir=os.path.dirname(HERE))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for name, make in SMALL.items():
            with self.subTest(generator=name):
                runs = {}
                for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
                    d = os.path.join(self.tmp, name, tag)
                    props = make(d, seed)
                    runs[tag] = (snapshot(d), props)
                self.assertTrue(runs["a"][0])
                self.assertEqual(runs["a"], runs["b"])
                self.assertEqual(runs["a"][0].keys(), runs["c"][0].keys())
                self.assertNotEqual(runs["a"][0], runs["c"][0])


if __name__ == "__main__":
    unittest.main()
