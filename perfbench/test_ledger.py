"""Tests of the cross-run digest ledger (run.check_ledger).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import tempfile
import unittest

import run


class LedgerTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        self.path = os.path.join(self.dir.name, "build", "w-1.json")

    def tearDown(self):
        self.dir.cleanup()

    def stored(self):
        with open(self.path) as f:
            return json.load(f)

    def test_first_clean_run_becomes_the_reference(self):
        self.assertEqual(run.check_ledger(self.path, {"a": "1"}, keep_new=True), [])
        self.assertEqual(run.check_ledger(self.path, {"a": "2"}, keep_new=True), ["a"])
        self.assertEqual(self.stored(), {"a": "1"})

    def test_failed_run_is_not_kept(self):
        self.assertEqual(run.check_ledger(self.path, {"a": "bad"}, keep_new=False), [])
        self.assertFalse(os.path.exists(self.path))
        self.assertEqual(run.check_ledger(self.path, {"a": "good"}, keep_new=True), [])
        self.assertEqual(self.stored(), {"a": "good"})

    def test_mismatch_adds_no_new_keys(self):
        run.check_ledger(self.path, {"a": "1"}, keep_new=True)
        self.assertEqual(run.check_ledger(self.path, {"a": "2", "b": "3"}, keep_new=True), ["a"])
        self.assertEqual(self.stored(), {"a": "1"})
        self.assertEqual(run.check_ledger(self.path, {"a": "1", "b": "3"}, keep_new=True), [])
        self.assertEqual(self.stored(), {"a": "1", "b": "3"})


if __name__ == "__main__":
    unittest.main()
