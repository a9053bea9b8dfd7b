"""Unit tests for the seeded table generator and the k-copy scale-up."""
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import datagen  # noqa: E402


def table(d, name):
    return pq.read_table(os.path.join(d, f"{name}.parquet")).to_pandas()


class DatagenTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-datagen-")
        cls.a = os.path.join(cls.tmp, "a")
        cls.b = os.path.join(cls.tmp, "b")
        cls.c = os.path.join(cls.tmp, "c")
        datagen.generate(cls.a, 7, 0.001)
        datagen.generate(cls.b, 7, 0.001)
        datagen.generate(cls.c, 8, 0.001)
        cls.k3 = os.path.join(cls.tmp, "a-k3")
        datagen.scale_up(cls.a, cls.k3, 3)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_same_seed_same_tables(self):
        for t in datagen.ALL_TABLES:
            self.assertTrue(table(self.a, t).equals(table(self.b, t)), t)

    def test_other_seed_other_tables(self):
        self.assertFalse(table(self.a, "orders").equals(table(self.c, "orders")))

    def test_sizes_follow_sf(self):
        for t, n in datagen.ROWS.items():
            self.assertEqual(datagen.row_count(
                os.path.join(self.a, f"{t}.parquet")), round(n * 0.001), t)

    def test_near_duplicate_documents_exist(self):
        docs = set(table(self.a, "documents")["text"])
        dups = [t for t in docs if t.endswith(" dup")]
        self.assertTrue(dups)
        self.assertTrue(all(t[:-len(" dup")] in docs for t in dups))

    def test_cost_is_recorded_with_the_tables(self):
        self.assertGreater(datagen.cost_s(self.a), 0)
        self.assertGreater(datagen.cost_s(self.k3), 0)

    def test_scale_up_is_k_disjoint_copies(self):
        for t in datagen.ENTITY_TABLES:
            self.assertEqual(
                datagen.row_count(os.path.join(self.k3, f"{t}.parquet")),
                3 * datagen.row_count(os.path.join(self.a, f"{t}.parquet")), t)
        cust = table(self.k3, "customer")
        self.assertTrue(cust["c_custkey"].is_unique)
        n = len(table(self.a, "customer"))
        # dimension keys are not offset
        self.assertTrue(cust["c_nationkey"].between(0, 24).all())
        self.assertTrue(table(self.k3, "nation").equals(table(self.a, "nation")))
        # copy 2 of an order points at copy 2 of its customer
        orders = table(self.k3, "orders")
        no = len(table(self.a, "orders"))
        base = orders.iloc[0]
        copy2 = orders.iloc[2 * no]
        self.assertEqual(copy2["o_orderkey"], base["o_orderkey"] + 2 * no)
        self.assertEqual(copy2["o_custkey"], base["o_custkey"] + 2 * n)
        self.assertEqual(copy2["o_totalprice"], base["o_totalprice"])
        row = cust[cust["c_custkey"] == 2 * n].iloc[0]
        self.assertEqual(row["c_name"], f"Customer#{2 * n:09d}")


if __name__ == "__main__":
    unittest.main()
