#!/usr/bin/env python3
"""Tests of the crime_etl input generator.

    python3 perfbench/test_gen_crime.py
"""
import csv
import datetime
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen_crime  # noqa: E402

ROWS = 3000


class GenCrimeTest(unittest.TestCase):
    def setUp(self):
        scratch = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "out")
        os.makedirs(scratch, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=scratch)

    def tearDown(self):
        self.tmp.cleanup()

    def gen(self, name, seed, rows=ROWS):
        path = os.path.join(self.tmp.name, name)
        gen_crime.write(path, seed, rows)
        return path

    def test_same_seed_is_byte_identical(self):
        a = self.gen("a.csv", 7)
        b = self.gen("b.csv", 7)
        self.assertTrue(filecmp.cmp(a, b, shallow=False))

    def test_different_seed_differs(self):
        a = self.gen("a.csv", 7)
        b = self.gen("b.csv", 8)
        self.assertFalse(filecmp.cmp(a, b, shallow=False))

    def test_layout_and_edges(self):
        with open(self.gen("a.csv", 7), newline="") as f:
            rows = list(csv.reader(f))
        self.assertEqual(rows[0], gen_crime.HEADER.split(","))
        data = rows[1:]
        self.assertEqual(len(data), ROWS)
        short = [r for r in data if len(r) < 12]
        self.assertEqual(len(short), ROWS // gen_crime.MALFORMED_EVERY // 5)
        full = [r for r in data if len(r) == 12]
        self.assertTrue(any("," in r[2] for r in full))
        self.assertTrue(any('"' in r[2] for r in full))
        dates = []
        for r in full:
            try:
                dates.append(datetime.datetime.strptime(
                    r[4].split(" ")[0], "%m/%d/%Y").date())
            except ValueError:
                pass
        self.assertTrue(any(gen_crime.week_of_month(d) == 6 for d in dates))

    def test_week_of_month_matches_calendar(self):
        # 2013-03-31 is the sixth week of March 2013; 2013-03-01 the first
        self.assertEqual(gen_crime.week_of_month(datetime.date(2013, 3, 31)), 6)
        self.assertEqual(gen_crime.week_of_month(datetime.date(2013, 3, 1)), 1)
        self.assertEqual(gen_crime.week_of_month(datetime.date(2013, 3, 3)), 2)


if __name__ == "__main__":
    unittest.main()
