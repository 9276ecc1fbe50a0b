#!/usr/bin/env python3
"""Launcher of the duo serving benchmark.

Run from the root of a checkout:

    python3 duobench/run.py --workload trace_search --seed 1 --seconds 15 --trace 0

It builds the program and the benchmark from source with sbt when the
sources changed since the last build (the first run in a checkout),
then runs `duobench.Main` on a plain JVM and prints the result record
as the last line of standard output. Everything it writes stays under
`duobench/` (`.build/`, `.run/`, `out/`).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
RUN = os.path.join(HERE, ".run")
WORKLOADS = ("trace_search", "log_search")
RESULT_TAG = "DUOBENCH_RESULT "
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"duobench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Files whose content decides the build, in a stable order."""
    roots = [(ROOT, ["build.sbt", "project/build.properties"], ["src/main"]),
             (HERE, ["build.sbt", "project/build.properties"], ["src/main"])]
    for base, files, dirs in roots:
        for f in files:
            yield os.path.join(base, f)
        for d in dirs:
            for dirpath, dirnames, filenames in os.walk(os.path.join(base, d)):
                dirnames.sort()
                for f in sorted(filenames):
                    yield os.path.join(dirpath, f)


def stamp():
    h = hashlib.sha256()
    for path in source_files():
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the launch spec (classpath, JVM options)."""
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    want = stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return read_launch(launch)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "bench/launchSpec"]
    print("duobench: building with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                              stderr=sys.stderr, timeout=BUILD_TIMEOUT_S,
                              start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if proc.returncode != 0 or not os.path.exists(launch):
        fail(f"build failed (sbt exit {proc.returncode})")
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        lines = [line.rstrip("\n") for line in f if line.strip()]
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program to measure: {need} is missing next to {HERE}")
    os.makedirs(BUILD, exist_ok=True)
    classpath, jvm_opts = build()

    shutil.rmtree(RUN, ignore_errors=True)
    tmp = os.path.join(RUN, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + jvm_opts +
           ["-cp", classpath, "duobench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--dir", RUN])
    proc = subprocess.Popen(cmd, cwd=RUN, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    # the whole JVM group dies at the deadline, even if it hangs
    watchdog = threading.Timer(RUN_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_TAG):
                result = line[len(RESULT_TAG):].strip()
            else:
                sys.stderr.write(line)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(RUN, ignore_errors=True)
    if code != 0 or result is None:
        fail(f"benchmark exited {code} without a result")
    record = json.loads(result)
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
