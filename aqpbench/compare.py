#!/usr/bin/env python3
"""Collect benchmark runs and compare two sets of them.

Collect one set (run from the repository root; one file per run):

    python3 aqpbench/compare.py collect --out /tmp/base --seeds 1-10
    python3 aqpbench/compare.py collect --out /tmp/base --seeds 1-10 --workloads ingest_mixed --trace 1

Compare two sets, per workload and metric: each side's median and quartiles,
the change of the median, the base side's spread (quartile distance over the
median), and a verdict against the bounds in BENCHMARK.json:

    python3 aqpbench/compare.py compare /tmp/base /tmp/change

A metric is "worse" when the change's median is worse than the base median by
more than its bound, "unresolved" when the base spread alone exceeds the
bound, and "ok" otherwise. Metrics without a bound (per-layer ones) are
listed with their change only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def collect(args):
    s = spec()
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in s["workloads"]]
    os.makedirs(args.out, exist_ok=True)
    for w in workloads:
        for seed in seeds(args.seeds):
            cmd = s["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(s["run_seconds"]),
                                  "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            name = os.path.join(args.out, f"{w}-seed{seed}-trace{args.trace}.out")
            with open(name, "w") as fh:
                fh.write(p.stdout)
            status = "ok" if p.returncode == 0 else f"exit {p.returncode}"
            print(f"{w} seed {seed}: {status} -> {name}", flush=True)


def load(directory):
    """{workload: {metric: [values]}} from the result lines of a set."""
    out = {}
    for f in sorted(os.listdir(directory)):
        if not f.endswith(".out"):
            continue
        workload = f.split("-seed")[0]
        lines = open(os.path.join(directory, f)).read().strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"skipping {f}: no result line", file=sys.stderr)
            continue
        for k, v in result["metrics"].items():
            out.setdefault(workload, {}).setdefault(k, []).append(v["value"])
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def compare(args):
    s = spec()
    metrics = {m["name"]: m for m in s["end_to_end"] + s["per_layer"]}
    base, change = load(args.base), load(args.change)
    for w in sorted(set(base) | set(change)):
        print(f"\n== {w}")
        print(f"{'metric':36s} {'base median [q1, q3]':>34s} {'change median [q1, q3]':>34s}"
              f" {'change':>8s} {'spread':>7s}  verdict")
        for k in sorted(set(base.get(w, {})) | set(change.get(w, {}))):
            b, c = base.get(w, {}).get(k), change.get(w, {}).get(k)
            if not b or not c:
                print(f"{k:36s} missing on one side")
                continue
            (b1, bm, b3), (c1, cm, c3) = quartiles(b), quartiles(c)
            m = metrics.get(k, {})
            rel = (cm - bm) / abs(bm) if bm else float("nan")
            spread = (b3 - b1) / abs(bm) if bm else float("nan")
            verdict = ""
            if "bound" in m:
                worse = -rel if m["better"] == "higher" else rel
                verdict = ("worse" if worse > m["bound"] else
                           "unresolved" if spread > m["bound"] else "ok")
            print(f"{k:36s} {bm:12.4g} [{b1:9.4g}, {b3:9.4g}] {cm:12.4g} [{c1:9.4g}, {c3:9.4g}]"
                  f" {rel:+8.1%} {spread:7.1%}  {verdict} (n={len(b)}/{len(c)})")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--out", required=True)
    c.add_argument("--seeds", default="1-10")
    c.add_argument("--workloads", default="")
    c.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p = sub.add_parser("compare")
    p.add_argument("base")
    p.add_argument("change")
    args = ap.parse_args()
    collect(args) if args.cmd == "collect" else compare(args)


if __name__ == "__main__":
    main()
