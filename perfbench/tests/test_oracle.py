import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import oracle  # noqa: E402


class DigestCompareTest(unittest.TestCase):
    def test_row_and_column_order_do_not_matter(self):
        a = pd.DataFrame({"k": [1, 2, 3], "v": ["x", "y", "z"]})
        b = pd.DataFrame({"v": ["z", "x", "y"], "k": [3, 1, 2]})
        self.assertEqual(oracle.digest(a), oracle.digest(b))
        self.assertIsNone(oracle.compare(a, b))

    def test_differences_are_named(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 0.25]})
        self.assertIn("rows", oracle.compare(a, a.head(1)))
        self.assertIn("columns", oracle.compare(a, a.rename(columns={"v": "w"})))
        why = oracle.compare(a, pd.DataFrame({"k": [1, 2], "v": [0.5, 0.26]}))
        self.assertIn("column v", why)

    def test_values_compare_as_strings(self):
        # a decimal 0.280000 is not the double 0.28: the engine's own
        # correctness gate makes the same distinction
        from decimal import Decimal
        a = pd.DataFrame({"v": [0.28]})
        b = pd.DataFrame({"v": [Decimal("0.280000")]})
        self.assertIsNotNone(oracle.compare(a, b))

    def test_sql_check_on_parquet(self):
        with tempfile.TemporaryDirectory() as d:
            data = os.path.join(d, "data")
            os.makedirs(data)
            pd.DataFrame({"x": [3, 1, 2]}).to_parquet(os.path.join(data, "t.parquet"))
            res = os.path.join(d, "res")
            os.makedirs(res)
            pd.DataFrame({"s": [6]}).to_parquet(os.path.join(res, "part-0.parquet"))
            con = oracle.connect(data, ["t"])
            self.assertIsNone(oracle.check_sql(con, "SELECT CAST(sum(x) AS BIGINT) AS s FROM t", res))
            # 6.0 (a double) is not 6 (an integer)
            self.assertIn("value", oracle.check_sql(con, "SELECT sum(x) AS s FROM t", res))
            self.assertIsNotNone(oracle.check_sql(con, "SELECT max(x) AS s FROM t", res))
            self.assertIn("oracle error", oracle.check_sql(con, "SELECT nope FROM t", res))


class TopKTest(unittest.TestCase):
    def setUp(self):
        rng = np.random.default_rng(0)
        t = gen.random_embeddings(rng, 50)
        self.vectors = {int(i): v for i, v in zip(t["vec_id"].to_pylist(),
                                                   t["embedding"].to_pylist())}

    def answer(self, ids):
        q = np.asarray(self.vectors[0], dtype=np.float64)
        sims = [round(float(np.dot(self.vectors[i], q) / (
            np.linalg.norm(self.vectors[i]) * np.linalg.norm(q))), 3) for i in ids]
        return pd.DataFrame({"vec_id": ids, "cos_sim_r": sims})

    def test_exact_answer_passes_with_full_recall(self):
        ids, _ = oracle.exact_topk(self.vectors, 0, 10)
        why, recall = oracle.check_topk(self.answer(ids), self.vectors, 0, 10)
        self.assertIsNone(why)
        self.assertEqual(recall, 1.0)

    def test_approximate_answer_passes_with_partial_recall(self):
        ids, _ = oracle.exact_topk(self.vectors, 0, 12)
        approx = ids[:9] + ids[11:12]
        why, recall = oracle.check_topk(self.answer(approx), self.vectors, 0, 10)
        self.assertIsNone(why)
        self.assertEqual(recall, 0.9)

    def test_recall_below_the_floor_fails(self):
        ids, _ = oracle.exact_topk(self.vectors, 0, 12)
        approx = self.answer(ids[:9] + ids[11:12])
        self.assertIsNone(oracle.check_topk(approx, self.vectors, 0, 10, min_recall=0.9)[0])
        why, recall = oracle.check_topk(approx, self.vectors, 0, 10, min_recall=1.0)
        self.assertIn("recall 0.90 below", why)
        self.assertEqual(recall, 0.9)

    def test_broken_answers_fail(self):
        ids, _ = oracle.exact_topk(self.vectors, 0, 10)
        good = self.answer(ids)
        self.assertIn("rows", oracle.check_topk(good.head(9), self.vectors, 0, 10)[0])
        wrong_sim = good.assign(cos_sim_r=good["cos_sim_r"] + np.array([0.01] + [0.0] * 9))
        self.assertIn("similarity", oracle.check_topk(wrong_sim, self.vectors, 0, 10)[0])
        reordered = self.answer(list(reversed(ids)))
        self.assertIn("non-increasing", oracle.check_topk(reordered, self.vectors, 0, 10)[0])
        with_query = self.answer([0] + ids[:9])
        self.assertIn("distinct", oracle.check_topk(with_query, self.vectors, 0, 10)[0])


if __name__ == "__main__":
    unittest.main()
