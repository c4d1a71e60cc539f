"""The correctness check reports planted faults: a record dropped before
the fold, a sink row altered, a read row lost.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import gen  # noqa: E402


def write_rows(path, rows, prefix=None):
    with open(path, "w") as f:
        for r in rows:
            cells = ([str(prefix)] if prefix is not None else []) + [str(v) for v in r]
            f.write("\t".join(cells) + "\n")


class CheckTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        cls.inputs = os.path.join(cls.tmp, "inputs")
        cls.meta = gen.write("import_paced", 11, cls.inputs, 2)
        cls.queries = check.read_queries(cls.meta)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def setUp(self):
        self.out = tempfile.mkdtemp(dir=self.tmp)
        self.c = check.Checker(self.inputs, self.meta)
        exp, _ = self.c.expected("transfers")
        cols = ", ".join(check.TRANSFER_COLS)
        self.rows = self.c.con.execute(f"SELECT {cols} FROM {exp} ORDER BY 1").fetchall()
        # reads answered from the expected table: what a correct sink gives
        with open(os.path.join(self.out, "reads.tsv"), "w"):
            pass
        for qi, q in enumerate(self.queries):
            got = self.c.con.execute(
                f"SELECT {cols} FROM {exp} WHERE {check.spec_sql(q)}").fetchall()
            with open(os.path.join(self.out, "reads.tsv"), "a") as f:
                for r in got:
                    f.write("\t".join([str(qi)] + [str(v) for v in r]) + "\n")

    def run_check(self):
        return check.check_run("import_paced", self.inputs, self.out, self.meta, self.queries)

    def test_correct_output_passes(self):
        write_rows(os.path.join(self.out, "paced_r0.tsv"), self.rows)
        attempted, failed, violations = self.run_check()
        self.assertEqual(attempted, self.meta["records"] + len(self.queries))
        self.assertEqual(failed, 0)
        self.assertEqual(violations, [])

    def test_altered_sink_row_fails(self):
        rows = [list(r) for r in self.rows]
        rows[3][6] = "FAILED" if rows[3][6] != "FAILED" else "COMPLETED"
        write_rows(os.path.join(self.out, "paced_r0.tsv"), rows)
        _, failed, _ = self.run_check()
        self.assertEqual(failed, rows[3][7])

    def test_dropped_record_fails(self):
        # the sink as it would be had one record never reached the fold
        con = self.c.con
        victim = con.execute("SELECT user_id FROM ev ORDER BY event_id LIMIT 1 OFFSET 100").fetchone()[0]
        con.execute("CREATE TABLE ev_full AS SELECT * FROM ev")
        con.execute("DELETE FROM ev WHERE event_id = 100")
        key, sql = check.EXPECTED["transfers"]
        cols = ", ".join(check.TRANSFER_COLS)
        rows = con.execute(f"SELECT {cols} FROM ({sql}) ORDER BY 1").fetchall()
        write_rows(os.path.join(self.out, "paced_r0.tsv"), rows)
        _, failed, _ = self.run_check()
        n = con.execute(f"SELECT COUNT(*) FROM ev_full WHERE user_id = {victim}").fetchone()[0]
        self.assertEqual(failed, n)

    def test_lost_read_row_fails(self):
        write_rows(os.path.join(self.out, "paced_r0.tsv"), self.rows)
        path = os.path.join(self.out, "reads.tsv")
        with open(path) as f:
            lines = f.read().splitlines()
        with open(path, "w") as f:
            f.write("\n".join(lines[1:]) + "\n")
        _, failed, _ = self.run_check()
        self.assertEqual(failed, 1)

    def test_properties_catch_a_silent_loss(self):
        # an instance missing from both the output and, through a faulty
        # derivation, from the comparison would still break the sums
        self.c.con.execute("CREATE TABLE t AS SELECT * FROM exp_transfers LIMIT 10")
        self.assertTrue(self.c.properties("t"))
        self.assertEqual(self.c.properties("exp_transfers"), [])


if __name__ == "__main__":
    unittest.main()
