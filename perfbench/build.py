#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that
ships in Spark's jar directory, into a directory keyed by a hash of the
sources, so an unchanged checkout builds once.

    python3 perfbench/build.py [build_dir]     # prints the classes dir
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside a `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark jar directory (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory {d} is missing")
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_sha(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Returns (classes_dir, source_sha), compiling when needed."""
    files = sources()
    sha = source_sha(files)
    classes = os.path.join(build_dir, f"classes-{sha[:16]}")
    if os.path.isdir(classes):
        return classes, sha
    tmp = classes + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    # cwd: scalac's default classpath holds ".", which must not be the
    # checkout (its directories would read as packages)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=tmp)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    os.rename(tmp, classes)
    for old in os.listdir(build_dir):  # builds of earlier sources
        if old.startswith("classes-") and os.path.join(build_dir, old) != classes:
            shutil.rmtree(os.path.join(build_dir, old), ignore_errors=True)
    return classes, sha


if __name__ == "__main__":
    d = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else
                        os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                                     "perfbench"))
    os.makedirs(d, exist_ok=True)
    print(build(d)[0])
