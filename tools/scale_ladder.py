#!/usr/bin/env python3
"""Scale evidence: graft.Bench at two test-data scales, compared.

Usage: python3 tools/scale_ladder.py lo_dir hi_dir [entry ...]

Runs `sbt "runMain graft.Bench"` once per dir (SPARK_GRAFT_SF_DIR, and
SPARK_GRAFT_BENCH_QUERIES = the entries, default ENTRIES). An unset
SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM defaults as in the Tier-1 recipe (all
cores; half the RAM within 2g..8g): build.sbt's 48g heap default is sized
for a large host. Prints one Markdown row per entry: the min rep's wall s
and process CPU-s per rung and the hi/lo ratio of each. An entry at -1,
in "errors" or missing prints as failed, never as a ratio; a line
without a "cpu" object prints CPU as "-".
"""
import json, os, subprocess, sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRIES = ["cls_pagerank", "cls_kcore", "cls_bfs", "cls_quality_audit",
           "rco_etl_e2e", "rco_fleet_e2e"]


def bench_line(stdout):
    """The last graft.Bench JSON line in `stdout`, parsed."""
    for line in reversed(stdout.splitlines()):
        i = line.find('{"metric"')
        if i >= 0:
            return json.loads(line[i:])
    raise ValueError("no graft.Bench JSON line in the output")


def run_bench(sf_dir, entries):
    half_g = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 31
    env = {"SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
           "SPARK_DRIVER_MEM": f"{min(8, max(2, half_g))}g", **os.environ,
           "SPARK_GRAFT_SF_DIR": sf_dir,
           "SPARK_GRAFT_BENCH_QUERIES": ",".join(entries)}
    r = subprocess.run(["sbt", "--batch", "runMain graft.Bench"], cwd=REPO,
                       env=env, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        sys.exit(1)
    return bench_line(r.stdout)


def rung(bench, entry):
    """(wall, cpu or None) of `entry` in one Bench line; None if failed."""
    wall = bench.get("queries", {}).get(entry)
    if wall is None or wall < 0 or entry in bench.get("errors", []):
        return None
    cpu = bench.get("cpu", {}).get(entry)
    return wall, cpu if cpu is not None and cpu >= 0 else None


def fmt(x):
    return "-" if x is None else f"{x:.2f}"


def ratio(hi, lo):  # rung() values are >= 0 or None
    return "-" if hi is None or not lo else f"{hi / lo:.2f}×"


def table(lo, hi, entries):
    rows = ["| entry | lo wall s | lo CPU-s | hi wall s | hi CPU-s "
            "| wall hi/lo | CPU hi/lo |", "|---|---|---|---|---|---|---|"]
    for e in entries:
        a, b = rung(lo, e), rung(hi, e)
        cells = [fmt(v) for r in (a, b) for v in (r or (None, None))]
        if a is None or b is None:
            bad = " and ".join(n for n, r in (("lo", a), ("hi", b)) if r is None)
            cells += [f"failed at {bad}", f"failed at {bad}"]
        else:
            cells += [ratio(b[0], a[0]), ratio(b[1], a[1])]
        rows.append("| " + " | ".join([e] + cells) + " |")
    return "\n".join(rows)


def main(argv):
    if len(argv) < 2:
        sys.exit(__doc__)
    lo_dir, hi_dir, entries = argv[0], argv[1], argv[2:] or ENTRIES
    lo, hi = run_bench(lo_dir, entries), run_bench(hi_dir, entries)
    print(f"lo = {lo_dir}, hi = {hi_dir}")
    print(table(lo, hi, entries))
    sys.exit(any(rung(b, e) is None for b in (lo, hi) for e in entries))


if __name__ == "__main__":
    main(sys.argv[1:])
