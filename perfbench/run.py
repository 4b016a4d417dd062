#!/usr/bin/env python3
"""RCO pipeline benchmark: one command per workload.

    python3 perfbench/run.py --workload site_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from `src/main/scala`
and the driver from `perfbench/src` (cached under `.bench_build/`),
generates the workload's input from the seed, runs the pipeline closed loop
for `--seconds`, checks the loaded tables against the program's DuckDB
oracles, and prints every metric with its unit. The last stdout line is the
result as one JSON object. With `--trace 1` it reports the per-layer metrics
of one extra traced run instead of the end-to-end ones.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170  # the whole command must end within 180 s
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the directory the
    repo's build.sbt names as its unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        if glob.glob(os.path.join(d, "spark-sql_*.jar")) and \
                glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    fail("no Spark jar directory found (set SPARK_HOME)")


def scalac(jars, classpath, out, sources, tmp):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
         f"-Djava.io.tmpdir={tmp}", "-cp", cp,
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out] + sources,
        capture_output=True, text=True)
    if r.returncode != 0:
        fail("compile failed:\n" + (r.stdout + r.stderr)[-4000:])


def build(jars):
    """Compile the program and the driver; skipped when no source changed."""
    main_src = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                             "*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not main_src or not bench_src:
        fail("program sources (src/main/scala) or driver sources missing")
    h = hashlib.sha256(jars.encode())
    for f in main_src + bench_src:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "stamp")
    main_out = os.path.join(BUILD, "classes", "main")
    bench_out = os.path.join(BUILD, "classes", "bench")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return [bench_out, main_out]
    shutil.rmtree(os.path.join(BUILD, "classes"), ignore_errors=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    scalac(jars, [], main_out, main_src, tmp)
    scalac(jars, [main_out], bench_out, bench_src, tmp)
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return [bench_out, main_out]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as fh:
        conf = json.load(fh)
    if args.workload not in conf["workloads"]:
        fail(f"unknown workload {args.workload}")
    w = conf["workloads"][args.workload]
    jvm = conf["jvm"]
    cores = max(1, min(int(jvm["cores"]), os.cpu_count() or 1))

    jars = spark_jars()
    classpath = build(jars)
    started = time.monotonic()  # the first run of a checkout also builds

    work = os.path.join(BUILD, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    # inputs: single-threaded from the seed; the program sees only the files
    table = gen.events_table(args.seed, w["lines"], w["days"],
                             w["events_per_line_day"])
    gen.write(table, os.path.join(work, "input"))
    events = table.num_rows

    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{jvm['heap']}",
            f"-Xmx{jvm['heap']}"] + ADD_OPENS +
           ["-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join(classpath + [os.path.join(jars, "*")]),
            "perfbench.RcoBench", "--workload", args.workload,
            "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--input", os.path.join(work, "input"),
            "--run-id", f"{args.workload}-{args.seed}"])
    # SPARK_LOCAL_DIRS, when set, would win over spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(BUILD, f"{args.workload}.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=log,
                               stderr=subprocess.STDOUT,
                               timeout=max(10, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            fail(f"pipeline JVM timed out; see {log_path}")
    if r.returncode != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"pipeline JVM exited with {r.returncode}; see {log_path}")
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)

    if not res["run_s"]:
        fail("no pipeline run completed: " + "; ".join(res["failures"]))
    problems = list(res["failures"])
    if not res["idempotent"]:
        problems.append("a refresh changed the content of a loaded table")
    jvm_s = time.monotonic() - started
    problems += oracle.check(os.path.join(work, "check"), res["oracles"],
                             os.path.join(work, "input", "events.parquet"))
    check_s = time.monotonic() - started - jvm_s

    runs, cpus = res["run_s"], res["cpu_s"]
    n = len(runs)
    p50 = statistics.median(runs)
    lines = [f"workload {args.workload} seed {args.seed}: {events} input "
             f"events per run, local[{cores}], heap {jvm['heap']}",
             f"run_s.p50 {p50:.4f} s (n={n})",
             f"events_per_s {events / p50:.1f} events/s (n={n})",
             f"cpu_s.p50 {statistics.median(cpus):.4f} CPU-s (n={n})",
             f"setup_s {res['setup_s']:.3f} s (n=1)",
             f"peak_rss_mb {res['peak_rss_mb']:.1f} MB",
             f"failed_frac {res['failed'] / max(1, res['attempted']):.4f} ratio "
             f"({res['failed']}/{res['attempted']})",
             "checks: " + ("pass" if not problems else "; ".join(problems)),
             f"wall: input + JVM {jvm_s:.1f} s, output checks {check_s:.1f} s"]
    if args.trace:
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in res["layers"].items()}
        metrics["trace.overhead_s"] = {"value": res["traced_run_s"] - p50, "unit": "s"}
        lines += [f"{k} {m['value']:.6g} {m['unit']}" for k, m in metrics.items()]
        lines.append(f"spans: {os.path.join(work, 'spans.json')}")
    else:
        metrics = {
            "run_s.p50": {"value": p50, "unit": "s"},
            "events_per_s": {"value": events / p50, "unit": "events/s"},
            "cpu_s.p50": {"value": statistics.median(cpus), "unit": "CPU-s"},
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "peak_rss_mb": {"value": res["peak_rss_mb"], "unit": "MB"},
        }
    for sub in ("tables", "check", "input", "spark-local", "tmp",
                "warehouse", "traced"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps({"correct": not problems, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


UNITS = {"s": "s", "cpu_s": "CPU-s", "plan_s": "s", "driver_gap_s": "s",
         "gc_s": "s", "jobs": "count", "tasks": "count", "shuffle_mb": "MB",
         "spill_mb": "MB", "read_mb": "MB", "write_mb": "MB",
         "rows_out": "count", "rewrite_ratio": "ratio",
         "core_busy_share": "ratio"}


def unit(name):
    return UNITS[name.rsplit(".", 1)[1]]


if __name__ == "__main__":
    main()
