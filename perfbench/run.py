"""H3 layer benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the benchmark (see build.py), then runs one workload
in a fresh JVM on ``local[N]`` with N = the CPUs this process may use, one
driver and one client thread. The workload's inputs come from ``--seed``; its
outputs are checked against an independent recomputation outside the timed
window. The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. A fuller record
of the run (per-operation latencies, failures with their exception, the
host-calibration legs, and in traced runs every span) is written to
``.bench_build/artifacts/``.

Workloads, metrics and the layer each per-layer metric belongs to are listed
in ``BENCHMARK.json`` and ``perfbench/layers.json``.
"""

import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("cell_batch", "raster_compact")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs the module openings that
# org.apache.spark.launcher.JavaModuleOptions adds.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    classpath = build.ensure_built()
    work = os.path.join(build.BUILD_DIR, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    artifacts = os.path.join(build.BUILD_DIR, "artifacts")
    os.makedirs(artifacts, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    result_path = os.path.join(work, f"result-{tag}.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    cores = len(os.sched_getaffinity(0))

    # no hsperfdata file: the run writes only inside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work-dir", work,
            "--result", result_path,
            "--artifact", os.path.join(artifacts, f"{tag}.json"),
            "--t0-epoch-ns", str(time.time_ns())]
    # the JVM's own output goes to stderr: stdout carries only the result line
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {tag} exceeded {RUN_TIMEOUT_S}s")
    if code != 0 or not os.path.exists(result_path):
        sys.exit(f"perfbench: {tag} failed (exit {code})")
    with open(result_path) as f:
        result = json.load(f)
    print(json.dumps(result, separators=(", ", ": ")))


if __name__ == "__main__":
    main()
