#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload tle_etl --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (the engine through its own build file);
later runs reuse the build while the sources are unchanged. The benchmark runs
in one JVM on local[N], N = min(4, cores). The last line of standard output
is the result object; the full record, and with --trace 1 the span file,
land in .bench_build/perfbench/results/.
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
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tle_etl", "docs_stream", "wh_dml")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """The engine and benchmark sources and build files the build depends on."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def tree_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def build(tree):
    """Build once per source tree; returns (classpath, jvm options)."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == tree:
                return read_launch(launch)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -XX:-UsePerfData").strip()
    # the engine build reads the heap size from the environment
    env["SPARK_DRIVER_MEM"] = HEAP
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/writeLaunch"]
    print(f"perfbench: building ({' '.join(cmd)})", file=sys.stderr)
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                       stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(launch):
        fail(f"build failed (exit {p.returncode})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    os.makedirs(OUT, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(tree + "\n")
    return read_launch(launch)


def read_launch(path):
    with open(path) as f:
        lines = [l.strip() for l in f if l.strip()]
    return lines[0], lines[1:]


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--setups", type=int, default=3)
    ap.add_argument("--wrong-expect", action="store_true",
                    help="shift every expected output by one (smoke test)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources next to {os.path.basename(HERE)}/ "
             "(expected build.sbt and src/main/scala at the checkout root)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")

    tree = tree_hash()
    cp, jvm_opts = build(tree)
    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(OUT, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap size (-Xms = -Xmx): left to grow, the heap's size follows
    # the collector's expansion timing, and peak RSS spread over 20% run to
    # run. No perf-data file, so nothing is written outside the checkout.
    cmd = (["java"] + jvm_opts + [f"-Xms{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--size", a.size, "--setups", str(a.setups),
            "--work", work, "--results", os.path.join(OUT, "results"),
            "--commit", commit(), "--tree", tree, "--cores", str(cores)]
           + (["--wrong-expect"] if a.wrong_expect else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"the benchmark JVM exited with {proc.returncode}")
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
