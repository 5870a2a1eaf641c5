#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the repository's main sources (`src/main/scala`, plus the
`src/main/resources` service registrations) together with this package's
harness (`perfbench/src`) into `.bench_build/classes` with the Scala 2.13
compiler that ships in Spark's jar directory. No sbt: the build starts no
daemon and writes nothing outside the checkout.

A stamp of every input file's hash makes a second call a no-op until a
source changes.

    python3 perfbench/build.py            # build (or confirm up to date)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repository's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise SystemExit(f"build: Spark jars not found at '{jars}' (set SPARK_HOME)")
    return jars


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def _files(root, suffix):
    out = []
    for d, _, names in os.walk(root):
        out += [os.path.join(d, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(quiet=False):
    missing = [d for d in (MAIN_SRC, BENCH_SRC) if not os.path.isdir(d)]
    if missing:
        raise SystemExit(f"build: source directories missing: {', '.join(missing)}")
    sources = _files(MAIN_SRC, ".scala") + _files(BENCH_SRC, ".scala")
    resources = _files(MAIN_RES, "") if os.path.isdir(MAIN_RES) else []
    stamp = _stamp(sources + resources)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    # oracle answers are tied to the compiled gate definitions
    shutil.rmtree(os.path.join(BUILD, "oracle"), ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + argfile]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"build: scalac failed (exit {rc}), see {log}")
    for f in resources:
        dst = os.path.join(CLASSES, os.path.relpath(f, MAIN_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    if not quiet:
        print(f"build: compiled {len(sources)} sources into {CLASSES}", file=sys.stderr)


if __name__ == "__main__":
    build()
