"""The output checker is not vacuous: damaged sinks raise the error rate.

    python3 perfbench/test_check.py     (from the repository root)

Runs one small `drain` through the real pipeline, checks that the
untouched output passes, then damages copies of it: one DLQ part file
deleted, and one routed row flipped to another row's offset in a copy of
the success sink. Each copy must yield failures.
"""

import glob
import os
import shutil
import tempfile
import unittest

import check
import run


class CheckerTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
        os.makedirs(build_dir, exist_ok=True)
        cls.work = tempfile.mkdtemp(prefix="checker-test-", dir=build_dir)
        result = run.run_jvm(run.build(build_dir), os.path.join(cls.work, "jvm"), "drain",
                             7, 1, 0, 2)
        cls.rep = result["passes"][0]["reps"][0]
        cls.con = check.connect()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def error_rate(self, rep_dir):
        src = self.rep["dir"]
        rows, failed, _ = check.check_rep(self.con, f"{src}/topic", f"{src}/truth", rep_dir,
                                          self.rep["aggregate"])
        return failed / rows

    def damaged_copy(self, name):
        dst = os.path.join(self.work, name)
        shutil.copytree(self.rep["dir"], dst)
        return dst

    def test_untouched_output_passes(self):
        self.assertEqual(self.error_rate(self.rep["dir"]), 0)

    def test_deleted_dlq_part_file_fails(self):
        rep = self.damaged_copy("dlq-deleted")
        parts = [p for p in sorted(glob.glob(f"{rep}/out/dlq/*/*.parquet"))
                 if self.con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0] > 0]
        os.remove(parts[0])
        self.assertGreater(self.error_rate(rep), 0)

    def test_flipped_routed_row_fails(self):
        rep = self.damaged_copy("row-flipped")
        part = next(p for p in sorted(glob.glob(f"{rep}/out/success/*/*.parquet"))
                    if self.con.execute(f"SELECT count(*) FROM '{p}'").fetchone()[0] > 0)
        # the success row now claims the offset of a row that went to the DLQ
        dlq_offset = self.con.execute(
            "SELECT CAST(decode(list_filter(headers, h -> h.key = 'original_offset')[1].value)"
            f" AS BIGINT) FROM read_parquet('{rep}/out/dlq/*/*.parquet') LIMIT 1").fetchone()[0]
        flipped = part + ".flipped"
        self.con.execute(
            f"COPY (SELECT * REPLACE (CASE WHEN row_number() OVER () = 1 THEN {dlq_offset} "
            f"ELSE \"offset\" END AS \"offset\") FROM read_parquet('{part}')) "
            f"TO '{flipped}' (FORMAT PARQUET)")
        os.replace(flipped, part)
        self.assertGreater(self.error_rate(rep), 0)


if __name__ == "__main__":
    unittest.main()
