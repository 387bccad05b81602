"""Build step of the H3 layer benchmark.

Compiles the library sources (``src/main/scala``) together with the
benchmark's own sources (``perfbench/scala``) into one class directory with
the Scala compiler that ships in Spark's jar directory, so a checkout needs
nothing but a JDK and a Spark distribution (``SPARK_HOME`` or ``spark-submit``
on ``PATH``). The output is keyed by a hash of every source file: an unchanged
tree reuses the previous build.

Run on its own to build (``python3 perfbench/build.py``); ``run.py`` calls
``ensure_built`` before every run.
"""

import hashlib
import os
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
LIB_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")
SCALA_JARS = ("scala-compiler", "scala-library", "scala-reflect")


def spark_jars_dir():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME or put spark-submit on PATH)")
    return jars


def spark_classpath():
    jars = spark_jars_dir()
    return [os.path.join(jars, j) for j in sorted(os.listdir(jars)) if j.endswith(".jar")]


def _sources():
    for base in (LIB_SRC, BENCH_SRC):
        if not os.path.isdir(base):
            raise SystemExit(f"perfbench: source directory missing: {os.path.relpath(base, ROOT)}")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _digest(files, classpath):
    h = hashlib.sha256()
    for p in files + classpath:
        h.update(p.encode())
        if p.endswith(".scala"):
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built():
    """Compile if the sources changed; return the runtime classpath."""
    files = _sources()
    cp = spark_classpath()
    digest = _digest(files, cp)
    classes = os.path.join(BUILD_DIR, "classes")
    stamp = os.path.join(classes, ".digest")
    runtime_cp = [classes, LIB_RES] + cp
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return runtime_cp
    os.makedirs(BUILD_DIR, exist_ok=True)
    staging = os.path.join(BUILD_DIR, "classes.tmp")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    compiler_cp = [j for j in cp if os.path.basename(j).startswith(SCALA_JARS)]
    t0 = time.time()
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
         "-cp", os.pathsep.join(compiler_cp),
         "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(cp),
         "-d", staging, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed (exit {proc.returncode})")
    with open(os.path.join(staging, ".digest"), "w") as f:
        f.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    print(f"perfbench: compiled in {time.time() - t0:.1f}s", file=sys.stderr, flush=True)
    return runtime_cp


if __name__ == "__main__":
    ensure_built()
