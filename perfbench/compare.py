#!/usr/bin/env python3
"""Compare benchmark runs: run-to-run spread, paired A/B summary, and a
layer-by-layer diff of traced runs.

Each directory holds the per-run record files the benchmark writes
(`<workload>-seed<n>-trace<0|1>.json`, plus `-spans.jsonl` for traced runs),
for example as collected by series.py.

    python3 perfbench/compare.py spread DIR
        IQR / median of every end-to-end metric per workload, against the
        bounds in BENCHMARK.json.
    python3 perfbench/compare.py sets DIR_A DIR_B
        Two sets of runs of the same code (any seeds): per workload and
        end-to-end metric, each set's median and spread, and whether the
        medians agree within the metric's bound in both directions.
    python3 perfbench/compare.py ab DIR_A DIR_B
        Runs paired by (workload, seed): each side's median and quartiles,
        the share of pairs B wins, and the verdict of the claim rule (B wins
        at least 9 of 10 pairs and the medians differ by more than A's
        quartile distance). Then, for traced runs, every per-layer metric's
        median on each side and the self time per layer from the span files.
"""
import glob
import json
import os
import re
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
    BENCH = json.load(f)
E2E = {m["name"]: m for m in BENCH["end_to_end"]}
LAYER = {m["name"]: m for m in BENCH["per_layer"]}
NAME = re.compile(r"(?P<w>\w+)-seed(?P<s>-?\d+)-trace(?P<t>[01])\.json$")


def load(d, trace):
    """{workload: {seed: record}} of the runs in `d` with the given trace."""
    out = {}
    for p in glob.glob(os.path.join(d, "*.json")):
        m = NAME.search(os.path.basename(p))
        if not m or int(m["t"]) != trace:
            continue
        with open(p) as f:
            rec = json.load(f)
        rec["_path"] = p
        out.setdefault(m["w"], {})[int(m["s"])] = rec
    return out


def metric(rec, name):
    v = rec["result"]["metrics"].get(name)
    return None if v is None else v["value"]


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (0, 0, 0)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(d):
    runs = load(d, 0)
    worst = 0.0
    for w in sorted(runs):
        recs = list(runs[w].values())
        print(f"{w}: {len(recs)} runs")
        for name, m in E2E.items():
            xs = [v for v in (metric(r, name) for r in recs) if v is not None]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            s = (q3 - q1) / med if med else 0.0
            flag = ""
            if name != "setup_s":
                worst = max(worst, s / m["bound"])
                flag = "  OVER BOUND" if s > m["bound"] else (
                    "  over a third of bound" if s > m["bound"] / 3 else "")
            print(f"  {name:14s} median {med:12.5g}  spread {s:7.4f}"
                  f"  bound {m['bound']}{flag}")
        bad = [r["_path"] for r in recs if not r["result"]["correct"]]
        if bad:
            print(f"  INCORRECT runs: {bad}")
    print(f"largest spread / bound (setup_s excluded): {worst:.3f}")


def sets(da, db):
    A, B = load(da, 0), load(db, 0)
    agree = True
    for w in sorted(set(A) & set(B)):
        print(f"{w}: {len(A[w])} + {len(B[w])} runs")
        for name, m in E2E.items():
            a = [v for v in (metric(r, name) for r in A[w].values()) if v is not None]
            b = [v for v in (metric(r, name) for r in B[w].values()) if v is not None]
            if not a or not b:
                continue
            qa, qb = quartiles(a), quartiles(b)
            sa = (qa[2] - qa[0]) / qa[1] if qa[1] else 0.0
            sb = (qb[2] - qb[0]) / qb[1] if qb[1] else 0.0
            # the larger relative change of either median against the other
            diff = max(abs(qb[1] - qa[1]) / qa[1] if qa[1] else 0.0,
                       abs(qa[1] - qb[1]) / qb[1] if qb[1] else 0.0)
            ok = diff <= m["bound"] and (name == "setup_s" or
                                         max(sa, sb) <= m["bound"])
            agree &= ok
            print(f"  {name:14s} A {qa[1]:11.5g} (spread {sa:.3f})"
                  f"  B {qb[1]:11.5g} (spread {sb:.3f})"
                  f"  change {diff:.3f}  bound {m['bound']}"
                  f"  {'ok' if ok else 'DISAGREE'}")
    print("the two sets agree within the bounds" if agree else
          "the two sets DO NOT agree within the bounds")


def better(name, a, b, table):
    """True when b is better than a, None on a tie."""
    if a == b:
        return None
    lower = table.get(name, {}).get("better", "lower") == "lower"
    return b < a if lower else b > a


def self_time(spans_path):
    """Self seconds per op by layer: op/read (benchmark glue between calls), call:<name>,
    job:<module>, stage."""
    if not os.path.exists(spans_path):
        return {}
    acc, ops = {}, set()
    with open(spans_path) as f:
        for line in f:
            s = json.loads(line)
            ops.add(s["op"])
            if s["kind"] in ("op", "read"):
                key = s["kind"]
            elif s["kind"] == "call":
                key = "call:" + s["name"]
            elif s["kind"] == "job":
                key = "job:" + s["name"].split(" ")[2].rstrip(":")
            else:
                key = "stage"
            acc[key] = acc.get(key, 0.0) + s["self_us"] / 1e6
    n = max(1, len(ops))
    return {k: v / n for k, v in acc.items()}


def ab(da, db):
    for trace, table in ((0, E2E), (1, LAYER)):
        A, B = load(da, trace), load(db, trace)
        for w in sorted(set(A) & set(B)):
            seeds = sorted(set(A[w]) & set(B[w]))
            if not seeds:
                continue
            print(f"\n== {w} ({'traced' if trace else 'untraced'}, "
                  f"{len(seeds)} pairs)")
            names = list(table)
            for name in names:
                a = [metric(A[w][s], name) for s in seeds]
                b = [metric(B[w][s], name) for s in seeds]
                if None in a or None in b:
                    continue
                qa, qb = quartiles(a), quartiles(b)
                if trace == 1:
                    if qa[1] == 0 and qb[1] == 0:
                        continue
                    ratio = qb[1] / qa[1] if qa[1] else float("inf")
                    print(f"  {name:36s} A {qa[1]:12.5g}  B {qb[1]:12.5g}"
                          f"  B/A {ratio:7.3f}")
                    continue
                wins = [better(name, x, y, table) for x, y in zip(a, b)]
                won = sum(1 for x in wins if x) / len(wins)
                iqr_a = qa[2] - qa[0]
                claim = won >= 0.9 and abs(qb[1] - qa[1]) > iqr_a
                worse = better(name, qa[1], qb[1], table) is False
                bound = table[name]["bound"] * qa[1]
                every = all(better(name, x, y, table) for x in a for y in b)
                verdict = ("B better (claim holds)" if claim else
                           "B worse beyond bound" if worse and
                           abs(qb[1] - qa[1]) > bound else
                           "B better in every run" if every else
                           "unresolved" if iqr_a > bound else "no change")
                print(f"  {name:14s} A {qa[1]:11.5g} [{qa[0]:.5g}, {qa[2]:.5g}]"
                      f"  B {qb[1]:11.5g} [{qb[0]:.5g}, {qb[2]:.5g}]"
                      f"  B wins {won:4.0%}  {verdict}")
            if trace == 1:
                print("  self time per op (s), medians over seeds:")
                keys = set()
                sa = [self_time(A[w][s]["_path"].replace(".json", "-spans.jsonl"))
                      for s in seeds]
                sb = [self_time(B[w][s]["_path"].replace(".json", "-spans.jsonl"))
                      for s in seeds]
                for x in sa + sb:
                    keys |= set(x)
                for k in sorted(keys):
                    ma = statistics.median([x.get(k, 0.0) for x in sa])
                    mb = statistics.median([x.get(k, 0.0) for x in sb])
                    print(f"    {k:44s} A {ma:9.4f}  B {mb:9.4f}"
                          f"  diff {mb - ma:+9.4f}")


def main(argv):
    if len(argv) == 2 and argv[0] == "spread":
        spread(argv[1])
    elif len(argv) == 3 and argv[0] == "sets":
        sets(argv[1], argv[2])
    elif len(argv) == 3 and argv[0] == "ab":
        ab(argv[1], argv[2])
    else:
        print(__doc__, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main(sys.argv[1:])
