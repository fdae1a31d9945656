"""Tests of the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import json
import os
import re
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import digest  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _fixture():
    return pd.DataFrame({
        "b_name": ["x", None, "y", "x"],
        "a_val": [1.23456789, float("nan"), -0.0, 2.5],
        "c_n": pd.array([3, None, 1, 3], dtype="Int32"),
        "d_ts": pd.to_datetime(["2024-01-01 00:00:01.500", "2024-01-02 00:00:00.000",
                                None, "2024-01-01 00:00:00.000"]),
        "e_flag": [True, False, True, None],
    })


class OrderTest(unittest.TestCase):
    def test_seed_and_pass_fix_the_permutation(self):
        a = run.order(7, 12, 3)
        self.assertEqual(a, run.order(7, 12, 3))
        self.assertEqual(sorted(a), list(range(12)))
        self.assertNotEqual(a, run.order(8, 12, 3))
        self.assertNotEqual(a, run.order(7, 12, 4))


class DigestTest(unittest.TestCase):
    def test_canon_matches_check_py(self):
        df = _fixture()
        check = digest._load_check_py()
        self.assertEqual(os.path.realpath(check.__file__),
                         os.path.join(os.path.realpath(ROOT), "tools", "check.py"))
        pd.testing.assert_frame_equal(digest.canon(df), check.canon(df))

    def test_digest_ignores_row_and_column_order(self):
        df = _fixture()
        shuffled = df.iloc[[2, 0, 3, 1]][["e_flag", "d_ts", "c_n", "b_name", "a_val"]]
        self.assertEqual(digest.digest(df), digest.digest(shuffled))
        changed = df.copy()
        changed.loc[0, "a_val"] = 1.234567
        self.assertNotEqual(digest.digest(df)[1], digest.digest(changed)[1])


class GeneratorTest(unittest.TestCase):
    def _gen(self, d, seed):
        gen.tables(d, seed, 0.001)
        return gen.wine(os.path.join(d, "wine.json"), seed, 300)

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            ea, eb, ec = self._gen(a, 5), self._gen(b, 5), self._gen(c, 6)
            names = sorted(os.listdir(a))
            self.assertEqual(names, sorted(os.listdir(b)))
            _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            self.assertEqual(ea, eb)
            _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
            self.assertIn("lineitem.parquet", mismatch)
            self.assertIn("wine.json", mismatch)
            self.assertNotEqual(ea, ec)

    def test_wine_expectations_count_the_generated_rows(self):
        with tempfile.TemporaryDirectory() as d:
            expected = self._gen(d, 3)
            with open(os.path.join(d, "wine.json"), encoding="utf-8") as f:
                rows = json.load(f)
        self.assertEqual(expected, gen.expected_wine(rows))
        self.assertLess(expected["rows"], len(rows))
        self.assertGreater(expected["violations"]["country_isin"], 0)


class MetricNameTest(unittest.TestCase):
    def test_names_are_well_formed_and_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = [m["name"] for m in bench["end_to_end"]]
        layer = [m["name"] for m in bench["per_layer"]]
        for n in e2e + layer + [w["name"] for w in bench["workloads"]]:
            self.assertRegex(n, re.compile(r"^[A-Za-z0-9_.-]+$"))
        self.assertLessEqual({w["name"] for w in bench["workloads"]},
                             set(run.SPEC["workloads"]))
        self.assertEqual(sorted(layer), sorted(
            list(run.LAYER) + list(run.LAYER_EXTRA)))
        self.assertEqual(sorted(e2e), sorted(run.END_TO_END))
        self.assertEqual(sorted(layer), sorted(run.SPEC["layers"]))
        units = dict(run.END_TO_END, **run.LAYER, **run.LAYER_EXTRA)
        for m in bench["end_to_end"] + bench["per_layer"]:
            self.assertEqual(m["unit"], units[m["name"]], m["name"])


if __name__ == "__main__":
    unittest.main()
