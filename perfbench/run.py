#!/usr/bin/env python3
"""Run one workload of the converter benchmark.

    python3 perfbench/run.py --workload backfill|trickle|query \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest [--testdata DIR] [--gate-hashes FILE]
    python3 perfbench/run.py --selftest --record

Builds the program from source when needed (build.py), launches one JVM
with a pinned heap and `local[nproc]` Spark, and prints that JVM's JSON
result as the last line of stdout. With `--trace 1` it also leaves the
span JSONL and a per-layer self-time summary under
`<build dir>/traces/<workload>-seed<N>/`.

`--selftest` runs the benchmark's own tests (generator determinism, each
output check able to fail, recorded query hashes); with `--testdata` it
also runs the registered surface queries over that directory the way the
gate does and matches them against the gate's committed hashes.
`--selftest --record` prints the surface-query hashes of three passes over
the surface-query tables (`data/sf0.01`), for `expected_hashes.json`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # no __pycache__ beside the sources
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
# The tables the registered surface queries read: the repo's correctness
# test tables (TESTDATA.md, sf0.01), copied byte for byte.
TABLES = os.path.join(HERE, "data", "sf0.01")
TABLE_SHA256 = {
    "documents.parquet": "3882fed1c345efc5111415b19fba244a14ef57410e9d9b20cae2201317be6d84",
    "events.parquet": "bb5b2c28f8905d984c38279d3894d4db0edc24cb025763bfdfada8adc58789c0",
}
HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + opens +
            ["-Dspark.ui.enabled=false", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, main] + args)


def run_jvm(cmd, log_path, timeout):
    """Run the JVM in its own process group; return (exit code, stdout).
    The group is killed on timeout and when this script is terminated."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                start_new_session=True)

        def stop(signum, _frame):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return -1, b""
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)  # stray children, if any
            except ProcessLookupError:
                pass
    return proc.returncode, out


def check_tables():
    for name, want in TABLE_SHA256.items():
        try:
            with open(os.path.join(TABLES, name), "rb") as f:
                got = hashlib.sha256(f.read()).hexdigest()
        except OSError as e:
            return f"{name}: {e}"
        if got != want:
            return f"{name}: sha256 {got}, expected {want}"
    return None


def tail(path, n=3000):
    try:
        with open(path, errors="replace") as f:
            return f.read()[-n:]
    except OSError:
        return ""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["backfill", "trickle", "query"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--testdata", default="")
    ap.add_argument("--gate-hashes", default=os.path.join(build.ROOT, "HASHES_r18.json"))
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")

    bad = check_tables()
    if bad:
        print(f"perfbench: surface-query tables differ from sf0.01: {bad}", file=sys.stderr)
        return 2
    t0 = time.time()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    t_build = time.time() - t0

    bdir = build.build_dir()
    hashes = os.path.join(HERE, "expected_hashes.json")
    cores = len(os.sched_getaffinity(0))
    if a.selftest:
        work = os.path.join(bdir, "selftest")
        args = ["--work", work, "--hashes", hashes, "--tables", TABLES, "--cores", str(cores),
                "--testdata", a.testdata, "--gate-hashes", a.gate_hashes,
                "--record", "1" if a.record else "0"]
        main_class, timeout = "graft.perfbench.SelfTest", 1800
        name = "selftest"
    else:
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        work = os.path.join(bdir, "runs", name)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--cores", str(cores), "--hashes", hashes,
                "--tables", TABLES]
        if a.trace:
            args += ["--trace-dir", os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}")]
        main_class, timeout = "graft.perfbench.PerfBench", RUN_TIMEOUT_S
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(bdir, f"{name}.log")
    t1 = time.time()
    rc, out = run_jvm(java_cmd(classes, work, main_class, args), log, timeout)
    t2 = time.time()
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: build {t_build:.1f} s, jvm {t2 - t1:.1f} s, "
          f"cleanup {time.time() - t2:.1f} s", file=sys.stderr)
    lines = out.decode("utf-8", "replace").strip().splitlines()
    if a.selftest:
        print("\n".join(lines))
        return 0 if rc == 0 else 1
    result = None
    if rc == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None:
        sys.stderr.write(tail(log))
        print(f"perfbench: {name} failed (exit {rc}), log: {log}", file=sys.stderr)
        return rc if rc not in (0, None) else 3
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
