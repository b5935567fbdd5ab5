#!/usr/bin/env python3
"""Run the benchmark over a range of seeds and collect the run records.

    python3 perfbench/series.py --out DIR --seeds 1-10 [--workloads a,b]
        [--trace 0|1] [--seconds S] [--env NAME=VALUE ...]

Each run's record (and span file) is copied from .bench_build/perfbench/
results/ into DIR, ready for `compare.py spread DIR` or `compare.py ab`.

With `--b-env NAME=VALUE ...` the series is a paired A/B of two settings of
environment switches: every (workload, seed) runs once with --env (side A,
into DIR/a) and once with --b-env (side B, into DIR/b), alternating which
side runs first. An empty value unsets the variable.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def environ(pairs):
    env = dict(os.environ)
    for p in pairs:
        k, _, v = p.partition("=")
        if v:
            env[k] = v
        else:
            env.pop(k, None)
    return env


def run(workload, seed, trace, seconds, env, out):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"  {workload} seed {seed}: FAILED (exit {p.returncode})\n"
              f"{p.stderr[-2000:]}", file=sys.stderr)
        return
    os.makedirs(out, exist_ok=True)
    stem = f"{workload}-seed{seed}-trace{trace}"
    for suffix in (".json", "-spans.jsonl"):
        src = os.path.join(RESULTS, stem + suffix)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(out, stem + suffix))
    res = json.loads(lines[-1])
    m = res["metrics"]
    brief = ", ".join(f"{k}={v['value']:.4g}" for k, v in list(m.items())[:4])
    print(f"  {workload} seed {seed} trace {trace}: correct={res['correct']} "
          f"{brief}", flush=True)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--env", nargs="*", default=[])
    ap.add_argument("--b-env", nargs="*", default=None)
    a = ap.parse_args()
    sides = [("a", environ(a.env))]
    if a.b_env is not None:
        sides.append(("b", environ(a.b_env)))
    for w in a.workloads.split(","):
        for i, s in enumerate(seeds(a.seeds)):
            order = sides if i % 2 == 0 else sides[::-1]
            for label, env in order:
                out = os.path.join(a.out, label) if len(sides) > 1 else a.out
                run(w, s, a.trace, a.seconds, env, out)


if __name__ == "__main__":
    main()
