"""The output checks fail on corrupted outputs: a changed cell, a dropped or
duplicated row, a wrong float, or a stream that kept a loser."""
import os
import sys
import tempfile
import unittest

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402

SRC = pa.table({"k": pa.array([1, 2, 3, 4], pa.int64()),
                "v": pa.array(["a", "b", "c", "d"]),
                "x": pa.array([0.5, 1.25, 2.0, 1e-7])})


def write(d, name, table):
    os.makedirs(os.path.join(d, name), exist_ok=True)
    pq.write_table(table, os.path.join(d, name, "part-0.parquet"))
    return os.path.join(d, name)


class CopyCheckTest(unittest.TestCase):
    def test_fingerprint(self):
        con = checks.connect()
        with tempfile.TemporaryDirectory() as d:
            src = checks.parquet_rel(write(d, "src", SRC))
            same = SRC.take([3, 1, 0, 2])  # order does not matter
            self.assertIsNone(checks.check_copy(con, src, checks.parquet_rel(
                write(d, "same", same)), ["k", "v", "x"]))
            bad = [SRC.set_column(1, "v", pa.array(["a", "b", "c", "e"])),  # changed cell
                   SRC.slice(0, 3),  # dropped row
                   pa.concat_tables([SRC, SRC.slice(0, 1)])]  # duplicated row
            for i, t in enumerate(bad):
                self.assertIsNotNone(checks.check_copy(con, src, checks.parquet_rel(
                    write(d, f"bad{i}", t)), ["k", "v", "x"]), i)


class QueryCheckTest(unittest.TestCase):
    EXPECTED = (["k", "v", "x"], [(1, "a", 0.5), (2, "b", 1.25), (3, "c", 2.0), (4, "d", 1e-7)])

    def test_parquet_output(self):
        con = checks.connect()
        with tempfile.TemporaryDirectory() as d:
            self.assertIsNone(checks.check_query(con, self.EXPECTED, write(d, "ok", SRC), False))
            wrong = SRC.set_column(2, "x", pa.array([0.5, 1.25, 2.0001, 1e-7]))
            self.assertIsNotNone(checks.check_query(con, self.EXPECTED, write(d, "w", wrong),
                                                    False))
            self.assertIsNotNone(checks.check_query(con, self.EXPECTED,
                                                    write(d, "s", SRC.slice(1)), False))

    def test_text_output(self):
        con = checks.connect()
        with tempfile.TemporaryDirectory() as d:
            os.makedirs(os.path.join(d, "csv"))
            pacsv.write_csv(SRC, os.path.join(d, "csv", "part-0.csv"))
            self.assertIsNone(checks.check_query(con, self.EXPECTED, os.path.join(d, "csv"), True))
            os.makedirs(os.path.join(d, "bad"))
            pacsv.write_csv(SRC.set_column(1, "v", pa.array(["a", "b", "x", "d"])),
                            os.path.join(d, "bad", "part-0.csv"))
            self.assertIsNotNone(checks.check_query(con, self.EXPECTED,
                                                    os.path.join(d, "bad"), True))


class StreamCheckTest(unittest.TestCase):
    def test_stream(self):
        con = checks.connect()
        with tempfile.TemporaryDirectory() as d:
            arr = checks.parquet_rel(write(d, "arrivals", pa.table({"doc_id": [1, 2, 3, 4]})))
            ok = write(d, "ok", pa.table({"doc_id": [1, 3]}))
            self.assertIsNone(checks.check_stream(con, ok, arr, [1, 3]))
            self.assertIsNotNone(checks.check_stream(con, ok, arr, [1, 2, 3]))  # not the twin
            dup = write(d, "dup", pa.table({"doc_id": [1, 3, 3]}))
            self.assertIsNotNone(checks.check_stream(con, dup, arr, [1, 3]))
            stray = write(d, "stray", pa.table({"doc_id": [1, 9]}))
            self.assertIsNotNone(checks.check_stream(con, stray, arr, [1, 9]))


if __name__ == "__main__":
    unittest.main()
