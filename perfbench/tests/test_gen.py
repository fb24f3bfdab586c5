"""The generator is a pure function of the seed."""
import hashlib
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import gen  # noqa: E402


def digests(root):
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


class GenTest(unittest.TestCase):
    def write(self, kind, seed):
        d = tempfile.mkdtemp(dir=self.tmp.name)
        gen.WRITERS[kind](seed, d)
        return digests(d)

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()

    def tearDown(self):
        self.tmp.cleanup()

    def test_same_seed_gives_identical_bytes(self):
        for kind in ("vectors", "catalog"):
            a, b = self.write(kind, 3), self.write(kind, 3)
            self.assertTrue(a)
            self.assertEqual(a, b, kind)

    def test_other_seed_gives_other_inputs(self):
        for kind in ("vectors", "catalog"):
            a, b = self.write(kind, 3), self.write(kind, 4)
            self.assertEqual(a.keys(), b.keys())
            same = [f for f in a if a[f] == b[f]]
            # only the fixed dimension tables may repeat across seeds
            self.assertLessEqual(set(same), {"region.parquet", "nation.parquet"}, kind)

    def test_truth_is_exact(self):
        v = gen.vector_inputs(5)
        q = v["queries"][:20].astype("float64")
        c = v["corpus"].astype("float64")
        for i in range(len(q)):
            d = ((c - q[i]) ** 2).sum(1)
            self.assertEqual(sorted(v["truth"][i]), sorted(d.argsort()[:gen.K]))

    def test_change_batch_and_probes_agree(self):
        v = gen.vector_inputs(6)
        ids = [i for i, _, _ in v["changes"]]
        self.assertEqual(len(ids), gen.BATCH_ROWS)
        self.assertEqual(len(set(ids)), gen.BATCH_ROWS)
        deleted = {i for i, op, _ in v["changes"] if op == "delete"}
        upserted = {i for i, op, _ in v["changes"] if op == "upsert"}
        self.assertTrue(deleted and deleted < set(range(gen.N)))
        self.assertTrue(upserted - set(range(gen.N)) and upserted & set(range(gen.N)))
        vec = {i: e for i, op, e in v["changes"] if op == "upsert"}
        for q, expect, forbid in v["probes"]:
            if expect >= 0:
                self.assertTrue((vec[expect] == q).all())
            else:
                self.assertIn(forbid, deleted)
                self.assertTrue((v["corpus"][forbid] == q).all())

    def test_ensure_caches_per_seed(self):
        a = gen.ensure("catalog", 8, self.tmp.name)
        stamp = os.path.getmtime(os.path.join(a, "inputs.json"))
        self.assertEqual(gen.ensure("catalog", 8, self.tmp.name), a)
        self.assertEqual(os.path.getmtime(os.path.join(a, "inputs.json")), stamp)
        self.assertNotEqual(gen.ensure("catalog", 9, self.tmp.name), a)


if __name__ == "__main__":
    unittest.main()
