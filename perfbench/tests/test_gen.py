"""Generator determinism: the same seed gives byte-identical inputs, another
seed gives other bytes, and the manifest matches what was written."""
import hashlib
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402


def digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if f == "manifest.json":
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GenTest(unittest.TestCase):
    CASES = [("sf", {}), ("etl", {}), ("batch", {}),
             ("stream", {"arrivals": 300, "rounds": 3})]

    def test_same_seed_same_bytes(self):
        for kind, opts in self.CASES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(kind, 5, a, **opts)
                gen.generate(kind, 5, b, **opts)
                self.assertEqual(digest(a), digest(b), kind)

    def test_other_seed_other_bytes(self):
        for kind, opts in self.CASES:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(kind, 5, a, **opts)
                gen.generate(kind, 6, b, **opts)
                self.assertNotEqual(digest(a), digest(b), kind)

    def test_manifest_counts(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as out:
            m = gen.generate("stream", 3, out, arrivals=300, rounds=3)["inputs"]
            rounds = [k for k in m if k.startswith("round_")]
            self.assertEqual(len(rounds), 3)
            self.assertEqual(sum(m[k]["rows"] for k in rounds), 300)
            ids = []
            for k in sorted(rounds):
                d = os.path.join(out, "rounds", k)
                self.assertEqual(m[k]["files"], len(os.listdir(d)))
                ids += pq.read_table(d).column("doc_id").to_pylist()
            self.assertEqual(ids, sorted(ids), "ids rise with arrival order")
            self.assertEqual(len(set(ids)), 300)
        with tempfile.TemporaryDirectory() as out:
            m = gen.generate("etl", 3, out)["inputs"]
            self.assertEqual(m["lineitem_csv"]["rows"], 2 * 60000)
            self.assertGreaterEqual(m["lineitem_csv"]["files"], 3)
        with tempfile.TemporaryDirectory() as out:
            m = gen.generate("batch", 3, out)["inputs"]
            self.assertEqual(m["lineitem_csv"]["rows"], 2 * 60000)
            self.assertTrue(os.path.isfile(os.path.join(out, "sf", "documents.parquet")))

    def test_reuses_matching_manifest(self):
        with tempfile.TemporaryDirectory() as out:
            gen.generate("sf", 1, out)
            before = os.path.getmtime(os.path.join(out, "sf", "lineitem.parquet"))
            gen.generate("sf", 1, out)
            self.assertEqual(before, os.path.getmtime(os.path.join(out, "sf", "lineitem.parquet")))


if __name__ == "__main__":
    unittest.main()
