"""Tests of the benchmark itself. From the repository root:

    python3 -m unittest perfbench/test_perfbench.py

They build the program (as the benchmark does) and run three short
benchmark runs, so they take a few minutes.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import unittest

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check_catalog  # noqa: E402
import gen_tables  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_work", "test")


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def setUpModule():
    shutil.rmtree(SCRATCH, ignore_errors=True)
    os.makedirs(SCRATCH)


class Inputs(unittest.TestCase):
    def test_same_seed_gives_byte_identical_tables(self):
        a, b, c = (os.path.join(SCRATCH, "tables-" + x) for x in "abc")
        gen_tables.write(a, 3)
        gen_tables.write(b, 3)
        gen_tables.write(c, 4)
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))

    def test_movie_inputs_and_kv_checker(self):
        build.build()
        d = os.path.join(SCRATCH, "movies")
        out = subprocess.run(["java", "-cp", build.classpath(), "perfbench.SelfTest", d],
                             check=True, capture_output=True, text=True).stdout
        res = json.loads(out.strip().splitlines()[-1])
        self.assertTrue(same_tree(os.path.join(d, "a"), os.path.join(d, "b")))
        self.assertEqual(res["clean_mismatches"], 0)
        self.assertEqual(res["planted_mismatches"], 1)


class QueryChecker(unittest.TestCase):
    def test_flags_a_planted_wrong_row(self):
        tables = os.path.join(SCRATCH, "tables")
        gen_tables.write(tables, 1)
        check_dir = os.path.join(SCRATCH, "check")
        sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
        os.makedirs(os.path.join(check_dir, "qr"))
        with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
            json.dump({"qr": sql}, f)
        region = pq.read_table(os.path.join(tables, "region.parquet"))
        out = os.path.join(check_dir, "qr", "part-0.parquet")
        pq.write_table(region, out)
        self.assertEqual(check_catalog.check(tables, check_dir, ["qr"]), {"qr": None})
        names = region.column("r_name").to_pylist()
        names[2] = "ATLANTIS"
        pq.write_table(region.set_column(1, "r_name", pa.array(names)), out)
        self.assertIsNotNone(check_catalog.check(tables, check_dir, ["qr"])["qr"])


class Percentile(unittest.TestCase):
    def test_refuses_fewer_than_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            run.percentile(list(range(91)), 90)
        self.assertAlmostEqual(run.percentile(list(range(100)), 90), 89.1)
        self.assertEqual(run.percentile([3.0, 1.0, 2.0], 50), 2.0)


class MetricNames(unittest.TestCase):
    def test_printed_names_equal_benchmark_json(self):
        spec = run.load_spec()
        for workload, trace, key in (("movie_delta", 0, "end_to_end"),
                                     ("movie_delta", 1, "per_layer"),
                                     ("catalog_light", 1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                 "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                check=True, capture_output=True, text=True).stdout
            res = json.loads(out.strip().splitlines()[-1])
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"])
            self.assertEqual(list(res["metrics"]), [m["name"] for m in spec[key]])


if __name__ == "__main__":
    unittest.main()
