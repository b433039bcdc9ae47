#!/usr/bin/env python3
"""Fit/score benchmark of the XGBoost estimators in src/main/scala/graft/ml.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: multiclass_dist, tall_dist, score_single (see BENCHMARK.json
for why each exists, and README.md for what each run does). The first run
builds the library and the benchmark from source (build.py) into
$CARGO_TARGET_DIR (default .bench_build); later runs reuse the build while
the sources are unchanged.

The run starts one JVM with Spark local[nproc], prints a report, and ends
its standard output with one JSON line: correct, attempted, failed and the
metrics (end-to-end with --trace 0, per-layer with --trace 1). A traced run
also writes its spans to <build dir>/runs/<workload>-seed<n>/spans.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402  (perfbench/build.py)

RUN_TIMEOUT_S = 170
# Class-data-sharing archive of the classes a run loads: the first run
# after a build writes it, later runs map it and start about 2 s sooner.
CDS_ARCHIVE = build.PER_BUILD[0]

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def heap_mb():
    """A quarter of physical memory, within [2, 8] GiB. The repository's own
    build default (-Xms96g with pre-touch) would not start on small hosts."""
    total_kb = 8 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_kb = int(line.split()[1])
    except OSError:
        pass
    return max(2048, min(8192, total_kb // 1024 // 4))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    # on SIGTERM, unwind through subprocess.run, which kills and waits for
    # the compiler or the benchmark JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    if not os.path.isdir(os.path.join(build.LIBRARY, "scala", "graft", "ml")):
        fail(f"library sources not found under {os.path.relpath(build.LIBRARY)}")
    spark_home = build.spark_home()
    if not spark_home:
        fail("no Spark 4 distribution found (set SPARK_HOME)")

    target = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.join(target, "perfbench")
    os.makedirs(out, exist_ok=True)
    try:
        jar = build.build(out, spark_home)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    jars = build.spark_jars(spark_home)
    cds = os.path.join(out, CDS_ARCHIVE)
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                else f"-XX:ArchiveClassesAtExit={cds}")

    work = os.path.join(target, "runs", f"{a.workload}-seed{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap = heap_mb()
    # a fixed young generation: left to G1's pause-time sizing it kept
    # growing through the window, and multiclass_dist's round trips got
    # 20-30% faster from the first sample of a window to the last
    cmd = ([build.java(), f"-Xms{heap}m", f"-Xmx{heap}m", f"-Xmn{heap // 4}m",
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData",
            cds_flag, "-Xlog:disable", "-Xlog:all=error:stderr"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([jar] + jars),
              "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work-dir", work])
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        for d in ("spark-local", "models", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    report, result = [], None
    for line in r.stdout.splitlines():
        try:
            parsed = json.loads(line)
            if isinstance(parsed, dict) and set(parsed) == {"correct", "attempted", "failed", "metrics"}:
                result = line
                continue
        except ValueError:
            pass
        report.append(line)
    print("\n".join(report))
    if r.returncode != 0 or result is None:
        fail(f"benchmark exited {r.returncode} without a result")
    print(result, flush=True)


if __name__ == "__main__":
    main()
