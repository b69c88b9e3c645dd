"""Generated inputs are a pure function of the seed: the same seed gives
byte-identical inputs (WAL segments, SQL, vectors), another seed other
inputs. Runs the JVM generators (builds the program first if needed).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

WORKLOADS = ("live_steady", "replay_backlog", "replica_upsert", "vector_link")


@unittest.skipUnless(os.path.isdir(os.path.join(run.ROOT, "src", "main", "scala")),
                     "program sources not present")
class InputsTest(unittest.TestCase):
    def test_fixed_seed_gives_identical_inputs(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = run.digest(w, 7, 6)
                b = run.digest(w, 7, 6)
                c = run.digest(w, 8, 6)
                self.assertEqual(a, b)
                self.assertNotEqual(a["digest"], c["digest"])
                self.assertTrue(a["inputs"])


if __name__ == "__main__":
    unittest.main()
