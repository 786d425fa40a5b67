#!/usr/bin/env python3
"""Run workloads over several seeds and summarise every end-to-end metric:
median, quartiles (statistics.quantiles, n=4), spread = (Q3 - Q1) / median,
minimum and maximum, next to the metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 1 2 3 4 5 6 7 8 9 10 --out runs.jsonl
    python3 perfbench/steady.py --summarise runs.jsonl

Workloads are interleaved seed by seed, so drift of the box over the
sequence of runs touches every workload alike.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_one(spec, workload, seed):
    r = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        return {"workload": workload, "seed": seed, "error": r.returncode}
    env = json.loads(lines[-2])["env"]
    res = json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "env": env, **res}


def summarise(spec, rows):
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = []
    for w in [x["name"] for x in spec["workloads"]]:
        rs = [r for r in rows if r["workload"] == w and "metrics" in r]
        if not rs:
            continue
        bad = [r["seed"] for r in rows if r["workload"] == w and not r.get("correct")]
        out.append(f"\n### {w}: {len(rs)} runs, seeds {[r['seed'] for r in rs]}, "
                   f"failed ops {sum(r['failed'] for r in rs)}, runs not correct {bad}\n")
        out.append("| metric | median | Q1 | Q3 | spread | bound | min | max |")
        out.append("|---|---|---|---|---|---|---|---|")
        for name in bounds:
            v = [r["metrics"][name]["value"] for r in rs]
            if len(v) < 2:
                continue
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            out.append(f"| {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.3f} | "
                       f"{bounds[name]} | {min(v):.4g} | {max(v):.4g} |")
    return "\n".join(out)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--seeds", type=int, nargs="+")
    p.add_argument("--workloads", nargs="+", help="only these workloads (default: all)")
    p.add_argument("--out", help="append each run's result to this JSON-lines file")
    p.add_argument("--summarise", metavar="JSONL", help="summarise an earlier --out file")
    args = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.summarise:
        rows = [json.loads(x) for x in open(args.summarise)]
    else:
        if not args.seeds:
            p.error("--seeds or --summarise is required")
        rows = []
        names = args.workloads or [x["name"] for x in spec["workloads"]]
        for seed in args.seeds:
            for w in names:
                row = run_one(spec, w, seed)
                rows.append(row)
                if args.out:
                    with open(args.out, "a") as fh:
                        fh.write(json.dumps(row) + "\n")
    print(summarise(spec, rows))


if __name__ == "__main__":
    main()
