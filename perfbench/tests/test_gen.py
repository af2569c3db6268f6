"""Determinism of the seeded etl_star input generator.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
Needs the repo's read-only test data (TESTDATA.md) at sf0.001.
"""
import hashlib
import os
import shutil
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import build  # noqa: E402
import gen  # noqa: E402

SRC = os.path.join(build.TESTDATA, "sf0.001")


def digest(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class OffsetsTest(unittest.TestCase):
    def test_same_seed_same_offsets(self):
        self.assertEqual(gen.offsets(7, 10), gen.offsets(7, 10))

    def test_other_seed_other_offsets(self):
        self.assertNotEqual(gen.offsets(7, 10), gen.offsets(8, 10))

    def test_replica_id_ranges_disjoint(self):
        offs = gen.offsets(3, 10)
        for r, id_off, ts_off in offs:
            self.assertGreaterEqual(id_off, r * gen.ID_STRIDE)
            self.assertLess(id_off, r * gen.ID_STRIDE + gen.ID_JITTER)
            self.assertLess(ts_off, gen.TS_SPAN_S)


@unittest.skipUnless(os.path.isdir(SRC), f"{SRC} not present")
class GenerateTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-gen-")

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def run_gen(self, name, seed):
        out = os.path.join(self.tmp, name)
        rows = gen.generate(SRC, out, seed, 3)
        return out, rows

    def test_same_seed_same_bytes(self):
        a, rows_a = self.run_gen("a", 11)
        b, rows_b = self.run_gen("b", 11)
        self.assertEqual(rows_a, rows_b)
        self.assertEqual(digest(a), digest(b))
        self.assertTrue(os.path.exists(os.path.join(a, "events_json", "_SUCCESS")))
        self.assertTrue(os.path.exists(os.path.join(a, "songs_json", "_SUCCESS")))

    def test_other_seed_other_events_same_songs(self):
        a, rows_a = self.run_gen("a", 11)
        b, rows_b = self.run_gen("b", 12)
        self.assertEqual(rows_a, rows_b)    # replicas x source rows either way
        self.assertNotEqual(digest(os.path.join(a, "events_json")),
                            digest(os.path.join(b, "events_json")))
        self.assertEqual(digest(os.path.join(a, "songs_json")),
                         digest(os.path.join(b, "songs_json")))


if __name__ == "__main__":
    unittest.main()
