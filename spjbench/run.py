#!/usr/bin/env python3
"""Spatial-join benchmark entry point.

    python3 spjbench/run.py --workload osm_fused --seed 42 --seconds 12 --trace 0

Builds the engine and the benchmark from source (spjbench/build.py), then
runs one workload in one JVM on local[4] and prints, as the last stdout
line, {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. The JVM's log goes
to spjbench/out/logs; the run record (seed, input sizes, Spark conf, host
probe) and, when traced, the spans go to spjbench/out/work/runs.

Workloads: osm_fused (fused kernel) and wkt_refs_multi (the general alias
path) are listed in BENCHMARK.json; wkt_multi, skew_continent and
osm_within_dist run the same way but are not listed.
graft.Bench's figures come from a 32-core host and are not comparable with
these 4-core ones. The training-data operators (graft.ops, q1-q28) are not
covered yet.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("osm_fused", "wkt_multi", "wkt_refs_multi", "skew_continent",
             "osm_within_dist")
JVM_TIMEOUT_S = 170
# pre-touched at JVM start (-XX:+AlwaysPreTouch), so heap first-touch page
# faults land in set-up and not in timed ops (see build.sbt)
HEAP = "4g"
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.ensure()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")

    work = os.path.join(build.OUT, "work")
    logs = os.path.join(build.OUT, "logs")
    tmp = os.path.join(build.OUT, "tmp")
    for d in (work, logs, tmp):
        os.makedirs(d, exist_ok=True)
    cp = os.pathsep.join([classes] + build.spark_classpath())
    jvm = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]

    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    if args.trace:
        env["GRAFT_KERNEL_DEBUG"] = "timekinds"
    else:
        env.pop("GRAFT_KERNEL_DEBUG", None)

    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
    log_path = os.path.join(logs, f"{tag}.log")
    launch_ms = int(time.time() * 1000)
    cmd = ["java"] + jvm + ["-cp", cp, "graft.spjbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--launch-ms", str(launch_ms)]
    # relation count and row hash recorded for the default seed
    with open(os.path.join(HERE, "expected.json")) as fh:
        rec = json.load(fh).get(args.workload)
    if rec and rec["seed"] == args.seed:
        cmd += ["--expect", f"{rec['count']}:{rec['hash']}"]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                env=env, cwd=build.ROOT)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; "
                     f"log: {log_path}")

    lines = out.decode(errors="replace").splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit(f"benchmark JVM exited with {proc.returncode}; "
                 f"log: {log_path}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
