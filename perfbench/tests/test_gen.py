import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402


class Deterministic(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            return gen.digest(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in sorted(gen.GENERATORS):
            with self.subTest(workload=w):
                a = self.digest(w, 7)
                self.assertEqual(a, self.digest(w, 7))
                self.assertNotEqual(a, self.digest(w, 8))

    def test_ingest_shares_and_kinds(self):
        import json
        spec = gen.SPEC["ingest_tick"]
        with tempfile.TemporaryDirectory() as d:
            gen.ingest(3, d)
            truth = json.load(open(os.path.join(d, "truth.json")))
        n = spec["batch_docs"]
        for b in truth["batches"]:
            self.assertEqual(len(b["ids"]), n)
            for kind, share in spec["shares"].items():
                self.assertEqual(b["kinds"].count(kind), round(n * share))

    def test_ann_queries_are_held_out(self):
        import pyarrow.parquet as pq
        spec = gen.SPEC["ann_serve"]
        with tempfile.TemporaryDirectory() as d:
            gen.ann(3, d)
            q = pq.read_table(os.path.join(d, "queries.parquet")).to_pydict()
            base = pq.read_table(os.path.join(d, "base.parquet"))
        self.assertLess(max(q["vec_id"]), spec["queries_per_request"])
        self.assertGreaterEqual(min(base.column("vec_id").to_pylist()), 10)


if __name__ == "__main__":
    unittest.main()
