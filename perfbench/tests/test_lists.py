"""The catalog query lists: every listed query exists, is oracle-checked,
keeps no state between ops, and never reaches the Etl star memo.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
The last test builds the benchmark and runs each listed query once as a
timed op at sf0.001 (about a minute); the runner fails an op that leaves
an Etl star behind.
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402

SRC = os.path.join(build.ROOT, "src", "main", "scala", "graft")
LISTED = run.FLOOR + run.ITERATIVE


def source():
    text = ""
    for f in glob.glob(os.path.join(SRC, "**", "*.scala"), recursive=True):
        with open(f, encoding="utf-8") as fh:
            text += fh.read()
    return text


class ListsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.src = source()

    def test_lists_disjoint_and_unique(self):
        self.assertEqual(len(set(LISTED)), len(LISTED))

    def test_queries_registered(self):
        for q in LISTED:
            self.assertIn(f'"{q}"', self.src, q)

    def test_star_queries_not_listed(self):
        # q13/q14 build or read the Etl star: etl_star covers them
        for q in LISTED:
            self.assertFalse(q.startswith(("q13_", "q14_")), q)

    def test_no_stateful_query_listed(self):
        layouts = re.search(r"val layoutsByQuery[^=]*= Map\((.*?)\n\s*\n", self.src, re.S)
        self.assertIsNotNone(layouts)
        stateful = set(re.findall(r'"(q\d+_\w+)"', layouts.group(1)))
        stateful |= {"q54_quality_cutoff"}   # Bench's clearCache reset
        self.assertTrue(stateful.isdisjoint(LISTED), stateful & set(LISTED))

    @unittest.skipUnless(os.path.isdir(os.path.join(build.TESTDATA, "sf0.001")),
                         "test data not present")
    def test_no_listed_query_hits_the_etl_memo(self):
        build.build()
        state = os.path.join(build.OUT, "test_lists")
        shutil.rmtree(state, ignore_errors=True)
        os.makedirs(state)
        out = os.path.join(state, "record.json")
        args = ["--workload", "catalog", "--data", os.path.join(build.TESTDATA, "sf0.001"),
                "--seconds", "0", "--seed", "1", "--min-ops", "1", "--out", out,
                "--verify-dir", os.path.join(state, "verify"),
                "--queries", ",".join(LISTED)]
        try:
            subprocess.run(build.java_cmd(state, args), cwd=state, check=True,
                           stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
            with open(out) as fh:
                ops = json.load(fh)["ops"]
            self.assertEqual(sorted(op["name"] for op in ops), sorted(LISTED))
            for op in ops:
                self.assertTrue(op["ok"], f"{op['name']}: {op['error']}")
        finally:
            shutil.rmtree(state, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
