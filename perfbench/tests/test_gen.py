"""Seeded input generation: a seed fixes the rows; another seed moves the
rows but keeps row counts and schemas.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import checks  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".work")


def tables(dir_):
    """table → (schema, row count, content hash)."""
    con = checks.connect(dir_)
    out = {}
    for (name,) in con.sql("SELECT table_name FROM information_schema.tables").fetchall():
        rel = con.sql(f"SELECT * FROM {name}")
        cols = [d[0] for d in rel.description]
        digest, n = checks.table_hash(rel.fetchall(), cols)
        out[name] = ([(d[0], str(d[1])) for d in rel.description], n, digest)
    return out


class GenTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def generated(self, workload, seed, tag):
        d = os.path.join(self.tmp, f"{workload}-{seed}-{tag}")
        gen.generate(workload, seed, d)
        return tables(d)

    def test_seed_fixes_rows_and_another_seed_moves_them(self):
        for workload in gen.WORKLOADS:
            with self.subTest(workload=workload):
                a = self.generated(workload, 7, "a")
                self.assertEqual(a, self.generated(workload, 7, "b"))
                b = self.generated(workload, 8, "a")
                self.assertEqual(sorted(a), sorted(b))
                for name in a:
                    self.assertEqual(a[name][:2], b[name][:2], f"{name}: schema or row count moved")
                # region and nation are fixed dimension tables
                moved = [n for n in a if a[n][2] != b[n][2]]
                self.assertEqual(sorted(moved), sorted(set(a) - {"region", "nation"}))

    def test_star_foreign_keys_resolve(self):
        d = os.path.join(self.tmp, "star")
        gen.generate("batch_jobs", 3, d)
        con = checks.connect(d)
        for child, key, parent, pkey in [
                ("orders", "o_custkey", "customer", "c_custkey"),
                ("lineitem", "l_orderkey", "orders", "o_orderkey"),
                ("lineitem", "l_partkey", "part", "p_partkey"),
                ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
                ("customer", "c_nationkey", "nation", "n_nationkey"),
                ("nation", "n_regionkey", "region", "r_regionkey")]:
            dangling = con.sql(f"SELECT count(*) FROM {child} WHERE {key} NOT IN "
                               f"(SELECT {pkey} FROM {parent})").fetchone()[0]
            self.assertEqual(dangling, 0, f"{child}.{key} → {parent}")


if __name__ == "__main__":
    unittest.main()
