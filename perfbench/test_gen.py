"""Generator determinism: `python3 perfbench/test_gen.py`.

The same seed must give a byte-identical input file, and another seed a
different one.
"""
import os
import shutil
import sys
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402

SCRATCH = os.path.join(os.path.dirname(HERE), ".bench_build", "test_gen")


def input_digest(seed, name):
    t = gen.events_table(seed, lines=9, days=7, events_per_line_day=48)
    d = os.path.join(SCRATCH, name)
    gen.write(t, d)
    return gen.digest(os.path.join(d, "events.parquet"))


class GeneratorTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_same_digest(self):
        self.assertEqual(input_digest(7, "a"), input_digest(7, "b"))

    def test_other_seed_other_digest(self):
        self.assertNotEqual(input_digest(7, "a"), input_digest(8, "b"))

    def test_shape(self):
        t = gen.events_table(3, lines=9, days=7, events_per_line_day=48)
        self.assertEqual(t.num_rows, 9 * 7 * 48)
        self.assertEqual(t.column_names, ["event_id", "ts", "user_id",
                                          "event_type", "value", "props"])


if __name__ == "__main__":
    unittest.main()
