"""Checks of the benchmark's Python side (result line and build key).

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The harness's own checks (generator determinism, ground truth, the
document checker, percentiles) run with `python3 perfbench/run.py
--self-check`.
"""
import tempfile
import unittest
from pathlib import Path

import build
import run


class ResultLine(unittest.TestCase):
    def test_accepts_the_contract_shape(self):
        self.assertTrue(run.valid_result(
            '{"correct": true, "attempted": 3, "failed": 0, '
            '"metrics": {"run_s": {"value": 1.5, "unit": "s"}}}'))

    def test_rejects_other_shapes(self):
        for line in ['', 'not json', '[]',
                     '{"correct": true, "attempted": 0, "failed": 0, "metrics": {}}',
                     '{"correct": true, "attempted": 1, "failed": 0}',
                     '{"correct": true, "attempted": 1.5, "failed": 0, "metrics": {}}',
                     '{"correct": true, "attempted": 1, "failed": 0, "metrics": {}, "x": 1}']:
            self.assertFalse(run.valid_result(line), line)


class BuildKey(unittest.TestCase):
    def test_digest_names_files_relative_to_the_root(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            for root in (a, b):
                (Path(root) / "x.scala").write_text("object X\n")
            self.assertEqual(build.digest(Path(a), [Path(a) / "x.scala"]),
                             build.digest(Path(b), [Path(b) / "x.scala"]))
            (Path(b) / "x.scala").write_text("object Y\n")
            self.assertNotEqual(build.digest(Path(a), [Path(a) / "x.scala"]),
                                build.digest(Path(b), [Path(b) / "x.scala"]))

    def test_missing_program_sources_fail_the_build(self):
        with tempfile.TemporaryDirectory() as d:
            with self.assertRaises(build.BuildError):
                build.inputs(Path(d))


if __name__ == "__main__":
    unittest.main()
