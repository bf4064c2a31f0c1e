#!/usr/bin/env python3
"""Build file of the converter benchmark.

Compiles the program (`src/main/scala`, plus `src/main/resources`) together with the benchmark's own
sources (`perfbench/src`) into `<build dir>/classes`, using the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars, else the
`unmanagedBase` build.sbt compiles against). Nothing is fetched and nothing
is written outside the build directory.

The build directory is `$CARGO_TARGET_DIR` when set (relative paths are
taken from the repository root), else `.bench_build` at the root. A stamp
of every source file's bytes skips the compile when nothing changed.

    python3 perfbench/build.py          # build, print the classes dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
COMPILE_TIMEOUT_S = 840


class BuildError(Exception):
    pass


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError(f"program sources not found at {PROGRAM_SRC}")
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def resources():
    found = []
    for d, _, files in os.walk(PROGRAM_RESOURCES):
        found += [os.path.join(d, f) for f in files]
    return sorted(found)


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs + resources() + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the classes directory."""
    srcs = sources()
    jars = spark_jars()
    bdir = build_dir()
    classes = os.path.join(bdir, "classes")
    stamp_file = os.path.join(bdir, "classes.stamp")
    digest = stamp(srcs)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                return classes
    os.makedirs(bdir, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(bdir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log = os.path.join(bdir, "build.log")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-d", tmp, "-classpath", os.path.join(jars, "*"),
           "-nowarn", "@" + argfile]
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                                timeout=COMPILE_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BuildError(f"compile failed (exit {rc}), see {log}")
    for r in resources():  # service registrations (the cdc-avro source)
        dst = os.path.join(tmp, os.path.relpath(r, PROGRAM_RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(digest + "\n")
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
