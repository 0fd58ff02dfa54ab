"""The same seed gives byte-identical inputs; another seed gives others.

    python3 -m unittest discover -s perfbench/tests
"""

import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402


def tree(d):
    out = []
    for root, _, files in os.walk(d):
        out += [os.path.relpath(os.path.join(root, f), d) for f in files]
    return sorted(out)


class Determinism(unittest.TestCase):
    def generate(self, workload, seed, d):
        return gen.generate(workload, seed, d, seconds=4)

    def check(self, workload):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            self.generate(workload, 7, a)
            self.generate(workload, 7, b)
            self.generate(workload, 8, c)
            files = tree(a)
            self.assertTrue(files)
            self.assertEqual(files, tree(b))
            _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))
            _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
            self.assertTrue(mismatch, "a different seed should change the inputs")

    def test_dashboard_serve(self):
        self.check("dashboard_serve")

    def test_live_ingest(self):
        self.check("live_ingest")

    def test_corpus_pipeline(self):
        self.check("corpus_pipeline")


class Shapes(unittest.TestCase):
    def test_live_rows_carry_unique_sequence_numbers(self):
        with tempfile.TemporaryDirectory() as d:
            meta = gen.gen_live(3, d, seconds=4)
            values = []
            for name in ["initial.json"] + [os.path.join(sub, f) for sub in ("warm", "files")
                                            for f in sorted(os.listdir(os.path.join(d, sub)))]:
                with open(os.path.join(d, name)) as f:
                    values += [int(l.rsplit(":", 1)[1].rstrip("}\n")) for l in f]
            self.assertEqual(len(values), len(set(values)))
            self.assertEqual(len(values), meta["rows"] + meta["initial_rows"] +
                             meta["warm_files"] * gen.LIVE_ROWS_PER_FILE)
            self.assertGreater(meta["new_streams"], 0)

    def test_corpus_injects_duplicates_and_contamination(self):
        with tempfile.TemporaryDirectory() as d:
            meta = gen.gen_corpus(3, d)
            self.assertLess(meta["distinct_texts"], meta["docs"])
            self.assertEqual(len(meta["contaminated"]),
                             int(gen.CORPUS_DOCS * gen.CORPUS_CONTAMINATED))


if __name__ == "__main__":
    unittest.main()
