#!/usr/bin/env python3
"""Linkage benchmark: one seeded workload per invocation.

    python3 linkbench/run.py --workload link --seed 1 --seconds 5 --trace 0

Run from the checkout root. Builds the program from source on first use
(see build.py), runs the workload in one JVM pinned to local[4] with a
fixed 3 GB heap, and prints as its last stdout line one JSON object with
the keys correct, attempted, failed and metrics. Workloads, metrics and
the layer map are described in linkbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("link", "train_annotate")
HEAP = "3g"
RUN_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--scale", default="full", choices=("full", "tiny"),
                   help="tiny: smoke-test input sizes")
    p.add_argument("--corrupt-pass", type=int, default=-1,
                   help="smoke test: corrupt the output checksum of this pass")
    return p.parse_args(argv)


def main(argv):
    args = parse_args(argv)
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[linkbench] build failed: {e}", file=sys.stderr)
        return 2
    run_dir = build.BUILD / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    result = run_dir / "result.json"
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}",
           "graft.bench.LinkBench",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--dir", str(run_dir), "--result", str(result),
           "--scale", args.scale, "--corrupt-pass", str(args.corrupt_pass)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT")}
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stdout, stderr=sys.stderr)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    try:
        out = json.loads(result.read_text()) if code == 0 and result.exists() else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        print(f"[linkbench] run failed (exit {'timeout' if code is None else code})",
              file=sys.stderr)
        return 1
    sys.stdout.flush()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
