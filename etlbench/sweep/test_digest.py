"""Tests of the sweep's output check.

    python3 -m unittest discover -s etlbench/sweep
"""
import os
import tempfile
import unittest

import duckdb
import pandas as pd

import digest


def write_result(root, name, frame):
    """A Spark-like result directory: <root>/<name>/part-0.parquet."""
    d = os.path.join(root, name)
    os.makedirs(d)
    con = duckdb.connect()
    con.register("f", frame)
    con.execute(f"COPY f TO '{d}/part-0.parquet' (FORMAT PARQUET)")


class DigestTest(unittest.TestCase):
    frame = pd.DataFrame({"k": [3, 1, 2], "name": ["c", "a", None],
                          "x": [0.5, float("nan"), 2.25]})

    def test_row_and_column_order_do_not_matter(self):
        shuffled = self.frame.iloc[[2, 0, 1]][["x", "name", "k"]]
        self.assertEqual(digest.digest_frame(self.frame),
                         digest.digest_frame(shuffled))

    def test_one_altered_row_changes_the_digest(self):
        altered = self.frame.copy()
        altered.loc[1, "x"] = 0.25
        self.assertNotEqual(digest.digest_frame(self.frame),
                            digest.digest_frame(altered))

    def test_int_and_float_columns_differ(self):
        as_float = self.frame.assign(k=self.frame["k"].astype(float))
        self.assertNotEqual(digest.digest_frame(self.frame),
                            digest.digest_frame(as_float))

    def test_check_rejects_an_altered_result(self):
        expected = {"q1": digest.digest_frame(self.frame),
                    "q2": digest.digest_frame(self.frame)}
        altered = self.frame.copy()
        altered.loc[0, "name"] = "z"
        with tempfile.TemporaryDirectory() as root:
            write_result(root, "q1", self.frame)
            write_result(root, "q2", altered)
            bad = digest.check(root, ["q1", "q2", "q3"], expected)
        self.assertEqual([n for n, _ in bad], ["q2", "q3"])


if __name__ == "__main__":
    unittest.main()
