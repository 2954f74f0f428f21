"""The table generator writes the same bytes for the same seed.

    python3 -m unittest discover perfbench/tests
"""
import filecmp
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import tables  # noqa: E402


class TablesTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            tables.generate(a, 5)
            tables.generate(b, 5)
            tables.generate(c, 6)
            names = sorted(os.listdir(a))
            self.assertEqual(len(names), 10)
            for n in names:
                self.assertTrue(filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False), n)
            self.assertFalse(filecmp.cmp(os.path.join(a, "orders.parquet"), os.path.join(c, "orders.parquet"),
                                         shallow=False))


if __name__ == "__main__":
    unittest.main()
