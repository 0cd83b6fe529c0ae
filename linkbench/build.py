#!/usr/bin/env python3
"""Build step of the linkage benchmark.

Compiles the program (``src/main/scala``) together with the benchmark's own
harness (``linkbench/src``) with the Scala compiler that ships in the Spark
distribution (``$SPARK_HOME/jars``), into
``.bench_build/linkbench/classes-<source hash>/`` at the checkout root.
A build whose sources have not changed is reused.

    python3 linkbench/build.py          # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "linkbench"
COMPILE_TIMEOUT_S = 800


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")) or not any(jars.glob("spark-sql_*.jar")):
        raise BuildError(f"no Spark/Scala compiler jars under {jars}")
    return jars


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted((HERE / "src").glob("*.scala"))
    if not bench:
        raise BuildError("no benchmark sources under linkbench/src")
    return program + bench


def build() -> Path:
    """Returns the classes directory, compiling first if needed."""
    files = sources()
    jars = spark_jars()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out
    BUILD.mkdir(parents=True, exist_ok=True)
    tmp = BUILD / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp,
           *map(str, files)]
    print(f"[linkbench] compiling {len(files)} sources", file=sys.stderr, flush=True)
    try:
        proc = subprocess.run(cmd, timeout=COMPILE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile timed out")
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"compile failed with exit code {proc.returncode}")
    (tmp / ".complete").write_text("")
    try:
        tmp.rename(out)
    except OSError:  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    for old in BUILD.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[linkbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
