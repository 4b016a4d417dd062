"""Scale-ladder parsing and ratio math: `python3 tools/test_scale_ladder.py`.

Canned graft.Bench lines only; no Spark, no sbt.
"""
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import scale_ladder as sl  # noqa: E402

LO = ('{"metric":"total","value":3.0,"unit":"sec",'
      '"queries":{"cls_bfs":1.0,"rco_etl_e2e":4.0},'
      '"cpu":{"cls_bfs":2.0,"rco_etl_e2e":10.0},"errors":[],"sf":"lo"}')
HI = ('{"metric":"total","value":5.0,"unit":"sec",'
      '"queries":{"cls_bfs":2.5,"rco_etl_e2e":-1.0},'
      '"cpu":{"cls_bfs":8.0,"rco_etl_e2e":-1.0},'
      '"errors":["rco_etl_e2e"],"sf":"hi"}')
NO_CPU = ('{"metric":"total","value":2.0,"unit":"sec",'
          '"queries":{"cls_bfs":2.0},"errors":[],"sf":"old"}')


def row(table, entry):
    return next(r for r in table.splitlines() if r.startswith(f"| {entry} "))


class ScaleLadderTest(unittest.TestCase):
    def test_parses_the_line_among_sbt_output(self):
        out = "[info] running graft.Bench\n" + LO + "\n[info] done\n"
        b = sl.bench_line(out)
        self.assertEqual(list(b)[:4], ["metric", "value", "unit", "queries"])
        self.assertEqual(sl.rung(b, "cls_bfs"), (1.0, 2.0))

    def test_normal_line_ratios(self):
        t = sl.table(sl.bench_line(LO), sl.bench_line(HI), ["cls_bfs"])
        self.assertEqual(row(t, "cls_bfs"),
                         "| cls_bfs | 1.00 | 2.00 | 2.50 | 8.00 | 2.50× | 4.00× |")

    def test_failed_entry_prints_failed_not_ratio(self):
        hi = sl.bench_line(HI)
        self.assertIsNone(sl.rung(hi, "rco_etl_e2e"))
        r = row(sl.table(sl.bench_line(LO), hi, ["rco_etl_e2e"]),
                "rco_etl_e2e")
        self.assertEqual(r, "| rco_etl_e2e | 4.00 | 10.00 | - | - "
                            "| failed at hi | failed at hi |")
        self.assertNotIn("×", r)

    def test_entry_missing_from_one_rung(self):
        r = row(sl.table(sl.bench_line(NO_CPU), sl.bench_line(LO),
                         ["rco_etl_e2e"]), "rco_etl_e2e")
        self.assertIn("failed at lo", r)
        self.assertNotIn("×", r)

    def test_line_without_cpu_prints_cpu_absent(self):
        old = sl.bench_line(NO_CPU)
        self.assertEqual(sl.rung(old, "cls_bfs"), (2.0, None))
        r = row(sl.table(old, sl.bench_line(HI), ["cls_bfs"]), "cls_bfs")
        self.assertEqual(r, "| cls_bfs | 2.00 | - | 2.50 | 8.00 | 1.25× | - |")

    def test_no_line_is_an_error(self):
        with self.assertRaises(ValueError):
            sl.bench_line("[error] build failed\n")


if __name__ == "__main__":
    unittest.main()
