"""Tests of the benchmark itself.

  python3 -m unittest discover -s perfbench -p 'test_*.py'

The fast tests need only Python; SelfCheck builds the program and runs
every workload once on small inputs (a few minutes).
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import expected  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            for d in (a, b):
                inputs.corpus(d, 7, n_docs=200, n_vecs=100, n_names=100)
                inputs.deftunes(os.path.join(d, "def"), 7, months=2,
                                users=5, sessions=5, songs=5)
            cmp = filecmp.dircmp(a, b)
            self.assertFalse(cmp.diff_files or cmp.left_only or
                             cmp.right_only)
            self.assertTrue(filecmp.cmp(os.path.join(a, "def", "songs.csv"),
                                        os.path.join(b, "def", "songs.csv"),
                                        shallow=False))

    def test_planted_duplicates_are_in_the_corpus(self):
        with tempfile.TemporaryDirectory() as d:
            inputs.corpus(d, 3, n_docs=300, n_vecs=50, n_names=50)
            docs = pd.read_parquet(os.path.join(d, "documents.parquet"))
            text = dict(zip(docs.doc_id, docs.text))
            m = pd.read_json(os.path.join(d, "manifest.json"), typ="series")
            for a, b in m["exact_dups"]:
                self.assertEqual(text[a], text[b])
            for a, b in m["near_dups"]:
                self.assertNotEqual(text[a], text[b])
            for i in m["boiler_docs"]:
                self.assertIn(m["boilerplate"], text[i])


class Compare(unittest.TestCase):
    def test_rule(self):
        got = pd.DataFrame({"b": [2.5, 1.0], "a": ["x", "y"]})
        self.assertIsNone(expected.compare(
            got, pd.DataFrame({"a": ["y", "x"], "b": [1.0, 2.5]})))
        self.assertIn("rows", expected.compare(got, got.head(1)))
        self.assertIsNotNone(expected.compare(
            got, pd.DataFrame({"a": ["x", "y"], "b": [2.5, 1.0000001]})))
        self.assertIsNone(expected.compare(
            got, pd.DataFrame({"a": ["x", "y"], "b": [2.5, 1.0 + 1e-12]}),
            rel_tol=1e-9))


class StealAdjustment(unittest.TestCase):
    def test_wall_time_when_nothing_was_stolen(self):
        self.assertEqual(run.adjusted(2.0, 3.0, 0.0), 2.0)
        self.assertEqual(run.adjusted(2.0, 0.0, 0.0), 2.0)

    def test_scaled_by_the_granted_share_of_cpu(self):
        # 3 s of CPU granted out of 4 s wanted: 3/4 of the wall time
        self.assertAlmostEqual(run.adjusted(2.0, 3.0, 1.0), 1.5)


class SelfCheck(unittest.TestCase):
    def test_every_workload_is_correct(self):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--self-check"], capture_output=True, text=True,
                           timeout=1800)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
