#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles the program's sources (`src/main/scala` of the checkout) together
with the harness sources (`perfbench/src`) into `.bench_build/classes`, with
the Scala compiler that ships inside the Spark distribution. No build tool,
no dependency resolution: the only inputs are a JDK and `$SPARK_HOME/jars`.

A stamp over every source file's path and bytes skips the compile when
nothing changed, so only the first run in a checkout pays for it.

    python3 perfbench/build.py          # from the checkout root
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_DIR = ".bench_build"


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise SystemExit("perfbench: no `java` on PATH and no JAVA_HOME")
    return found


def spark_jars():
    """`$SPARK_HOME/jars`, else the distribution `spark-submit` lives in."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in candidates:
        if os.path.isdir(c) and any(f.startswith("scala-compiler")
                                    for f in os.listdir(c)):
            return c
    raise SystemExit("perfbench: no Spark distribution found "
                     "(set SPARK_HOME to a Spark 4 / Scala 2.13 install)")


def scala_sources(root):
    dirs = [os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")]
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory {os.path.relpath(d, root)} "
                             "is missing; run from the root of a full checkout")
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out.extend(os.path.join(base, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def build(root):
    """Compile if the sources changed; return the classes directory."""
    srcs = scala_sources(root)
    jars = spark_jars()
    digest = hashlib.sha256(jars.encode())
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    stamp_value = digest.hexdigest()
    classes = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "classes.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == stamp_value:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    if subprocess.run(cmd).returncode != 0:
        raise SystemExit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(stamp_value)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
