#!/usr/bin/env python3
"""Benchmark entry point for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Builds the engine and the harness from source with sbt when the sources
changed since the last build (perfbench/target/bench-build.stamp), then
runs the harness (perfbench.Main) in one JVM and prints its result as
the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything the run writes stays inside the checkout: the build under
perfbench/target, scratch state (Spark local dirs, stream checkpoints
and sinks, temp files) under perfbench/.work/<run>, which is removed on
every exit path, and a traced run's span file under perfbench/out.

A wrong output does not stop the run: it shows on the result line as
"correct": false with the count in "failed". Only a failed build, a
run that throws, times out or prints no valid result line exits
non-zero, and then without a result line.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "bench-build.stamp")
LAUNCH = os.path.join(TARGET, "bench-launch.txt")
DIGESTS = os.path.join(HERE, "digests.tsv")
WORKLOADS = ("relational", "stream_ingest")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fixture_dir(sf="0.1"):
    """The fixture directory of scale factor `sf`, as the repository's
    TESTDATA.md lists it (a `| sf | dir | ... |` table row)."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            for line in fh:
                cells = [c.strip().strip("`") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == sf:
                    return cells[2].rstrip("/")
    except OSError:
        pass
    return None


def source_files():
    """Every input of the build, relative to the repository root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the stamp matches the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("engine sources (src/main/scala) not found; nothing to build")
        return False
    want = source_hash()
    if os.path.isfile(STAMP) and os.path.isfile(LAUNCH):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return True
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("building engine + harness with sbt")
    t0 = time.time()
    try:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                           cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except (OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return False
    if r.returncode != 0 or not os.path.isfile(LAUNCH):
        log(f"build failed with exit code {r.returncode}")
        return False
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return True


def valid_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return False
    return (isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
            and isinstance(r["attempted"], int) and r["attempted"] >= 1
            and isinstance(r["failed"], int) and isinstance(r["metrics"], dict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--data", default=None,
                    help="fixture directory (default: the sf0.1 entry of TESTDATA.md)")
    ap.add_argument("--record", action="store_true",
                    help="re-record the workload's digests instead of checking them")
    a = ap.parse_args()

    data = a.data or fixture_dir()
    if not data:
        log("no fixture directory: TESTDATA.md lists no sf0.1 entry")
        return 1
    if not build():
        return 1
    with open(LAUNCH) as fh:
        launch = [l for l in fh.read().split("\n") if l]

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed heap: a heap grown from the default start size made every
    # pass cost more CPU and differ more from run to run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", *launch, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--data", data, "--work", work]
    if a.record:
        cmd += ["--record", DIGESTS + ".new"]
    else:
        cmd += ["--digests", DIGESTS]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(HERE, "out", f"spans-{a.workload}-seed{a.seed}.jsonl")]

    proc = None

    def stop(signum, _frame):
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGTERM)
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    out = ""
    try:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"run exceeded {RUN_TIMEOUT_S} s; stopping it")
            os.killpg(proc.pid, signal.SIGTERM)
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            return 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0:
        log(f"harness exited with code {proc.returncode}")
        return 1
    if a.record:
        return 0
    if not lines or not valid_result(lines[-1]):
        log("harness printed no valid result line")
        return 1
    print(lines[-1], flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
