#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark jars, into <build dir>/classes.

    python3 perfbench/build.py [build dir]      # default: .bench_build

The build dir is keyed by a digest of every source file, so an unchanged
tree is not rebuilt. Exits non-zero when the program's sources are missing
or do not compile.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the `unmanagedBase` the
    program's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(
            r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    files = []
    for d in SOURCES:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(build_dir):
    """Returns the classes dir, compiling first when the sources changed."""
    main = glob.glob(os.path.join(SOURCES[0], "**", "*.scala"), recursive=True)
    if not main:
        sys.exit("perfbench: the program's sources (src/main/scala) are missing")
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()[:16]
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, "SOURCES_DIGEST")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", tmp] + files
    print(f"perfbench: compiling {len(files)} files", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT)
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    with open(os.path.join(tmp, "SOURCES_DIGEST"), "w") as fh:
        fh.write(digest)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    d = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, ".bench_build")
    print(build(os.path.abspath(d)))
