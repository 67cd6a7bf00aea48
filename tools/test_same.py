"""Pins tools/same.py's temp dir mask on tools/fixtures/same_temp_paths.txt:
the same sink path under /tmp and under /dev/shm masks equal, a different
file name does not.

Usage: python3 tools/test_same.py
"""
import os, sys, unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from same import mask

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "fixtures", "same_temp_paths.txt")


class MaskTest(unittest.TestCase):
    def test_temp_dir_base_is_masked(self):
        with open(FIXTURE) as f:
            tmp, shm = f.read().splitlines()
        self.assertNotEqual(tmp, shm)
        self.assertEqual(mask(tmp), mask(shm))
        self.assertEqual(mask(tmp), "<tmp>/q51_out#/part-00000.parquet")

    def test_rest_of_the_path_still_counts(self):
        self.assertNotEqual(mask("/tmp/q51_out18363995713519980692/part-00000.parquet"),
                            mask("/tmp/q51_out18363995713519980692/part-00001.parquet"))


if __name__ == "__main__":
    unittest.main()
