#!/usr/bin/env python3
"""Smoke tests for the benchmark itself, at a tiny input size.

    python3 perfbench/smoke_test.py [workload ...]

For each workload (default: every workload of BENCHMARK.json):
  * an untraced run completes at least one timed op, passes its
    correctness checks, and prints every end-to-end metric of
    BENCHMARK.json with its unit;
  * a traced run prints every per-layer metric with its unit and writes
    a non-empty span file;
  * a run with every expected output shifted by one reports failures.
Finally the command must fail, without printing a result, in a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
ALL = tuple(w["name"] for w in BENCH["workloads"])

failures = []


def check(ok, what):
    print(f"  {'ok ' if ok else 'FAIL'} {what}", flush=True)
    if not ok:
        failures.append(what)


def run(workload, *extra, cwd=ROOT):
    cmd = BENCH["command"] + ["--workload", workload, "--seed", "7",
                              "--seconds", "1", "--size", "tiny",
                              "--setups", "1", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines else None), p.stderr


def names_units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main(workloads):
    for w in workloads:
        print(f"{w}:")
        code, res, err = run(w, "--trace", "0")
        check(code == 0 and res is not None, "untraced run exits 0 with a result")
        if res is None:
            print(err[-3000:])
            continue
        check(res["correct"] and res["failed"] == 0, "outputs are correct")
        check(res["attempted"] >= 2, "at least one timed op ran")
        want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
        check(names_units(res) == want, "every end-to-end metric, with its unit")
        check(all(v["value"] > 0 for v in res["metrics"].values()),
              "no end-to-end metric reads 0")

        code, res, err = run(w, "--trace", "1")
        check(code == 0 and res is not None and res["correct"],
              "traced run exits 0, correct")
        if res is not None:
            want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
            check(names_units(res) == want, "every per-layer metric, with its unit")
        spans = os.path.join(RESULTS, f"{w}-seed7-trace1-spans.jsonl")
        check(os.path.exists(spans) and os.path.getsize(spans) > 0,
              "the span file is written")

        code, res, err = run(w, "--trace", "0", "--wrong-expect")
        check(code == 0 and res is not None and not res["correct"]
              and res["failed"] >= 1, "a wrong expected result is a failure")

    print("bare directory:")
    with tempfile.TemporaryDirectory() as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        for p in BENCH["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(d, p),
                            ignore=shutil.ignore_patterns("target", "project/project"))
        code, res, _ = run(ALL[0], "--trace", "0", cwd=d)
        check(code != 0 and res is None, "fails without printing a result")

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main(sys.argv[1:] or ALL)
