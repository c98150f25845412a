"""The output checks fail on a tampered output, and the runner refuses to
run without the engine sources next to it.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
import checks  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(BENCH, ".work")
ORACLE = "SELECT c_custkey AS id, upper(c_name) AS name, c_acctbal AS bal FROM customer"


class ChecksTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=WORK)
        self.input = os.path.join(self.tmp, "in")
        gen.generate("batch_jobs", 1, self.input)
        self.con = checks.connect(self.input)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def publish(self, sql):
        """Write `sql`'s rows as a Spark-style table directory."""
        out = os.path.join(self.tmp, "published", "t")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        self.con.sql(f"COPY ({sql}) TO '{out}/part-00000.parquet' (FORMAT PARQUET)")
        return out

    def test_matching_output_passes(self):
        path = self.publish(ORACLE + " ORDER BY random()")
        self.assertIsNone(checks.check_table(self.con, "t", path, ORACLE))

    def test_tampered_output_fails(self):
        tampered = {
            "changed value": ORACLE.replace("c_acctbal AS bal", "c_acctbal + CAST(c_custkey = 7 AS DOUBLE) AS bal"),
            "dropped row": ORACLE + " WHERE c_custkey <> 7",
            "duplicated row": ORACLE + " UNION ALL " + ORACLE + " WHERE c_custkey = 7",
            "renamed column": ORACLE.replace("AS bal", "AS balance"),
        }
        for what, sql in tampered.items():
            with self.subTest(what):
                msg = checks.check_table(self.con, "t", self.publish(sql), ORACLE)
                self.assertIsNotNone(msg, f"{what} was not caught")

    def test_missing_output_fails(self):
        missing = os.path.join(self.tmp, "nothing")
        os.makedirs(missing)
        self.assertIsNotNone(checks.check_table(self.con, "t", missing, ORACLE))

    def test_runner_refuses_without_engine_sources(self):
        lonely = os.path.join(self.tmp, "lonely")
        shutil.copytree(BENCH, os.path.join(lonely, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", ".build", "target", "project"))
        shutil.copy(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json"), lonely)
        r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "batch_jobs",
                            "--seed", "1", "--seconds", "1", "--trace", "0"],
                           cwd=lonely, capture_output=True, text=True, timeout=120)
        self.assertNotEqual(r.returncode, 0)
        self.assertEqual(r.stdout.strip(), "")


if __name__ == "__main__":
    unittest.main()
