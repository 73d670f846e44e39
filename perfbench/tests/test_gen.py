import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402

SF = 0.001


class GeneratorTest(unittest.TestCase):
    def write(self, root, seed):
        gen.write_tables(gen.base_tables(seed, SF), root)
        return gen.files_digest(root)

    def test_same_seed_gives_byte_identical_files(self):
        with tempfile.TemporaryDirectory() as d:
            a = self.write(os.path.join(d, "a"), 7)
            b = self.write(os.path.join(d, "b"), 7)
            c = self.write(os.path.join(d, "c"), 8)
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)

    def test_fixture_shape(self):
        t = gen.base_tables(1, SF)
        self.assertEqual(sorted(t), sorted(gen.ALL_TABLES))
        self.assertEqual(t["lineitem"].num_rows, 6000)
        self.assertEqual(t["nation"].num_rows, 25)
        lens = {len(v) for v in t["embeddings"]["embedding"].to_pylist()}
        self.assertEqual(lens, {gen.EMBED_DIM})
        docs = t["documents"]
        self.assertEqual(docs["n_chars"].to_pylist(),
                         [len(s) for s in docs["text"].to_pylist()])
        self.assertEqual(sum(s.endswith(" dup") for s in docs["text"].to_pylist()),
                         docs.num_rows // 20)

    def test_replicas_are_content_disjoint_and_seeded(self):
        base = gen.tpch_tables(np.random.default_rng(3), SF)
        rep = gen.replicate_tpch(base, 10, np.random.default_rng(4))
        again = gen.replicate_tpch(base, 10, np.random.default_rng(4))
        other = gen.replicate_tpch(base, 10, np.random.default_rng(5))
        li = [k for p in rep["lineitem"] for k in p["l_orderkey"].to_pylist()]
        self.assertEqual(len(li), 10 * base["lineitem"].num_rows)
        self.assertEqual(len(rep["lineitem"]), 10)
        ck = [k for p in rep["customer"] for k in p["c_custkey"].to_pylist()]
        self.assertEqual(len(set(ck)), len(ck))
        names = [s for p in rep["customer"] for s in p["c_name"].to_pylist()]
        self.assertEqual(len(set(names)), len(names))
        self.assertEqual(rep["nation"][0], base["nation"])
        self.assertEqual([p["l_orderkey"].to_pylist() for p in rep["lineitem"]],
                         [p["l_orderkey"].to_pylist() for p in again["lineitem"]])
        self.assertNotEqual([p["l_orderkey"].to_pylist() for p in rep["lineitem"]],
                            [p["l_orderkey"].to_pylist() for p in other["lineitem"]])

    def test_directory_tables_are_written_as_parts(self):
        base = gen.tpch_tables(np.random.default_rng(3), SF)
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(gen.replicate_tpch(base, 3, np.random.default_rng(0)), d)
            parts = sorted(os.listdir(os.path.join(d, "orders.parquet")))
            self.assertEqual(len(parts), 3)
            rows = sum(pq.read_metadata(os.path.join(d, "orders.parquet", p)).num_rows
                       for p in parts)
            self.assertEqual(rows, 3 * base["orders"].num_rows)


if __name__ == "__main__":
    unittest.main()
