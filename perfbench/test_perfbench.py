"""The benchmark's own tests: a miniature of each workload runs and passes its
checks, and a deliberately corrupted stored output makes the matching check
fail.

Run from the repository root (the first run builds, as run.py does):

    python3 -m unittest perfbench/test_perfbench.py
"""
import glob
import json
import os
import shutil
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import run  # noqa: E402


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_names_every_metric_run_py_reports(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.per_layer_units())
        for w in b["workloads"]:
            self.assertIn(w["name"], ["lifecycle", "query_suite"])

    def test_balanced_tree_distances(self):
        d = checks.balanced_tree_distances(4).set_index(["s1", "s2"])["d"]
        self.assertEqual(d[("S000", "S001")], 2.0)
        self.assertEqual(d[("S000", "S003")], 4.0)
        self.assertEqual(len(checks.balanced_tree_distances(5)), 10)
        # 5 leaves split (S000 S001 | S002 S003 S004): S002 sits one level deeper
        d5 = checks.balanced_tree_distances(5).set_index(["s1", "s2"])["d"]
        self.assertEqual(d5[("S000", "S002")], 4.0)
        self.assertEqual(d5[("S003", "S004")], 2.0)
        self.assertEqual(d5[("S002", "S003")], 3.0)


def _rewrite(table_dir, change):
    """Replaces a stored (unpartitioned) table by `change` of its rows."""
    files = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    for f in files:
        os.remove(f)
    change(df).to_parquet(os.path.join(table_dir, "part-corrupted.parquet"), index=False)


class LifecycleMiniatureTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.result, _, cls.dir = run.run("lifecycle", seed=11, seconds=0, trace=0, keep=True)
        with open(os.path.join(cls.dir, "manifest.json")) as fh:
            m = json.load(fh)
        cls.life = checks.Lifecycle(os.path.join(cls.dir, "etl"), m["strains"], m["exact_limit"])

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir, ignore_errors=True)

    def test_miniature_passes_every_check(self):
        self.assertTrue(self.result["correct"])
        self.assertEqual(self.result["failed"], 0)
        # 7 calls and 11 checks in the single round
        self.assertEqual(self.result["attempted"], 7 + len(checks.Lifecycle.NAMES))

    def _corrupted(self, table, change):
        rnd = os.path.join(self.dir, "rounds", "0")
        copy = os.path.join(self.dir, "corrupted")
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(rnd, copy)
        _rewrite(os.path.join(copy, table), change)
        return {k: v for k, v in self.life.check(copy).items() if v is not None}

    def test_a_dropped_ortholog_row_fails_the_ortholog_check(self):
        failed = self._corrupted("graph/ortholog", lambda df: df.iloc[1:])
        self.assertEqual(list(failed), ["ortholog"], failed)

    def test_an_altered_dice_value_fails_the_dice_check(self):
        def alter(df):
            df = df.copy()
            df.loc[0, "dice"] = df.loc[0, "dice"] * 0.999 if df.loc[0, "dice"] < 1 else 0.75
            return df
        failed = self._corrupted("insertionDice", alter)
        self.assertEqual(list(failed), ["dice"], failed)


class QuerySuiteMiniatureTest(unittest.TestCase):
    def test_miniature_fails_only_the_pinned_oracle(self):
        result, failed, _ = run.run("query_suite", seed=1, seconds=0, trace=0,
                                    suite_data=run.SUITE_MINI_DATA)
        # one round: every query's call and check. a17's oracle pins p-values
        # measured at sf0.01, so at sf0.001 (as at sf0.1) its check fails, and
        # only it; a known failure leaves the run correct.
        self.assertEqual(result["attempted"], 2 * len(run.QUERIES))
        self.assertEqual([n for _, n, _ in failed], ["check:a17_welch_pvalue"])
        self.assertTrue(result["correct"])


if __name__ == "__main__":
    unittest.main()
