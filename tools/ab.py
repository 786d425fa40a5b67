#!/usr/bin/env python3
"""Alternated A/B of perfbench runs: a parent revision against this checkout.

    python3 tools/ab.py --parent HEAD~1 --workload serve_search --pairs 10 --claim latency_p50_s

The parent revision is exported with `git archive` into a temporary
directory (a self-contained copy: no worktree is registered in the
repository, and nothing is left behind if the tool is killed). Each pair
runs `perfbench/run.py` once in each checkout with the same seed and the
benchmark's `run_seconds`; which side goes first alternates from pair to
pair, so drift of the box over the sequence touches both sides alike.

It prints every pair's end-to-end metrics, then for each end-to-end
metric of BENCHMARK.json each side's median and quartiles, how many pairs the change won (ties
count for neither side) and the change of the medians against the
parent's interquartile range and against the metric's bound. Which way
is better for a metric is read from BENCHMARK.json. A gain in the metric
named by `--claim` (one of BENCHMARK.json's end-to-end metrics) is claimed
only when the change won at least nine tenths of all pairs run (a pair in
which either side errored is a loss), the medians differ by more than the
parent's interquartile range, and the change had no more errored or
incorrect runs and no more failed ops than the parent. For a workload
whose runs record per-mode latencies (serve_search's `per_mode`), it
also prints each side's per-mode median table, and for one whose runs
record every timed sample (serve_search's `latencies_s`), each side's
median count, by mode, of the samples above the run's `latency_p95_s`:
the modes that form the tail. Nothing under perfbench/ is edited.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Extract the tree of `rev` into `dest` with git archive."""
    tar = os.path.join(dest, "tree.tar")
    subprocess.run(["git", "archive", "--format=tar", "-o", tar, rev], cwd=ROOT, check=True)
    out = os.path.join(dest, "parent")
    os.makedirs(out)
    with tarfile.open(tar) as t:
        t.extractall(out)
    os.remove(tar)
    return out


def run(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`: its env record and result, or an error."""
    r = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or len(lines) < 2:
        sys.stderr.write(r.stderr[-3000:])
        return {"error": r.returncode}
    return {"env": json.loads(lines[-2])["env"], **json.loads(lines[-1])}


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, statistics.median(v), q3


def summarise(spec, pairs, total, claim):
    """The table of every end-to-end metric and the verdict on `claim`.

    Wins are counted over all `total` pairs: a pair in which either side
    errored counts as a loss for the change. Medians and quartiles are
    taken over the pairs in which both sides produced metrics."""
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    ok = [p for p in pairs if "metrics" in p["parent"] and "metrics" in p["change"]]
    bad = {s: sum(1 for p in pairs if not p[s].get("correct")) + total - len(pairs)
           for s in ("parent", "change")}
    failed = {s: sum(p[s].get("failed", 0) for p in pairs) for s in ("parent", "change")}
    lines = [f"{len(ok)} of {total} pairs complete; runs errored or not correct: parent "
             f"{bad['parent']}, change {bad['change']}; failed ops: parent {failed['parent']}, "
             f"change {failed['change']}", "",
             "| metric | parent median [Q1, Q3] | change median [Q1, Q3] | change | "
             "change wins | median diff > parent IQR | within bound |",
             "|---|---|---|---|---|---|---|"]
    verdict = None
    for name in bounds:
        a = [p["parent"]["metrics"][name]["value"] for p in ok]
        b = [p["change"]["metrics"][name]["value"] for p in ok]
        if not a:
            continue
        sign = -1 if better[name] == "lower" else 1
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
        aq1, amed, aq3 = quartiles(a)
        bq1, bmed, bq3 = quartiles(b)
        diff = bmed - amed
        beyond_iqr = abs(diff) > (aq3 - aq1)
        worse = -sign * diff / amed if amed else 0.0
        lines.append(f"| {name} | {amed:.4g} [{aq1:.4g}, {aq3:.4g}] | {bmed:.4g} [{bq1:.4g}, {bq3:.4g}] | "
                     f"{diff / amed * 100 if amed else 0:+.1f} % | {wins}/{total} | "
                     f"{'yes' if beyond_iqr else 'no'} | {'yes' if worse <= bounds[name] else 'NO'} |")
        if name == claim:
            verdict = (wins >= 0.9 * total and sign * diff > 0 and beyond_iqr, wins)
    won, wins = verdict if verdict is not None else (False, 0)
    won = won and bad["change"] <= bad["parent"] and failed["change"] <= failed["parent"]
    lines += ["", f"{claim}: change won {wins}/{total} pairs; gain "
              f"{'claimed' if won else 'NOT shown'} (needs >= 9/10 of all pairs, a median "
              "difference beyond the parent's interquartile range, and no more errored, "
              "incorrect runs or failed ops than the parent)"]
    return "\n".join(lines)


def per_mode(pairs):
    """Each side's median of the per-run, per-mode median latencies.

    Taken from the env records' `per_mode` (serve_search writes one per
    run), over the runs that have the mode; empty when no run has one."""
    def medians(side, mode):
        return [p[side]["env"]["per_mode"][mode]["median_s"] for p in pairs
                if mode in p[side].get("env", {}).get("per_mode", {})]
    modes = sorted({m for p in pairs for side in ("parent", "change")
                    for m in p[side].get("env", {}).get("per_mode", {})})
    if not modes:
        return ""
    lines = ["| mode | runs | parent median [Q1, Q3] s | change median [Q1, Q3] s | change |",
             "|---|---|---|---|---|"]
    for m in sorted(modes, key=lambda m: -statistics.median(medians("parent", m) or [0])):
        a, b = medians("parent", m), medians("change", m)
        cells = []
        for v in (a, b):
            q1, med, q3 = quartiles(v) if v else (float("nan"),) * 3
            cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}]")
        diff = (statistics.median(b) / statistics.median(a) - 1) * 100 if a and b else float("nan")
        lines.append(f"| {m} | {len(a)}/{len(b)} | {cells[0]} | {cells[1]} | {diff:+.1f} % |")
    return "\n".join(lines)


def tail_by_mode(pairs):
    """Each side's median count, by mode, of a run's timed samples above its p95.

    Counted per run from the env record's `latencies_s` ([mode, seconds]
    per timed sample) against the run's own `latency_p95_s`, over the runs
    that have both; empty when no run has them."""
    def counts(r):
        lat = r.get("env", {}).get("latencies_s")
        p95 = r.get("metrics", {}).get("latency_p95_s", {}).get("value")
        if not lat or p95 is None:
            return None
        c = {}
        for mode, seconds in lat:
            if seconds > p95:
                c[mode] = c.get(mode, 0) + 1
        return c
    runs = {side: [c for c in (counts(p[side]) for p in pairs) if c is not None]
            for side in ("parent", "change")}
    if not runs["parent"] and not runs["change"]:
        return ""
    def median_count(side, mode):
        v = [c.get(mode, 0) for c in runs[side]]
        return statistics.median(v) if v else float("nan")
    modes = sorted({m for side in runs.values() for c in side for m in c},
                   key=lambda m: (-median_count("parent", m), m))
    lines = [f"| mode | parent ({len(runs['parent'])} runs) | change ({len(runs['change'])} runs) |",
             "|---|---|---|"]
    for m in modes:
        lines.append(f"| {m} | {median_count('parent', m):g} | {median_count('change', m):g} |")
    totals = {side: statistics.median([sum(c.values()) for c in runs[side]]) if runs[side] else float("nan")
              for side in runs}
    lines.append(f"| all | {totals['parent']:g} | {totals['change']:g} |")
    return "\n".join(lines)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--parent", required=True, help="git revision to compare against")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed", type=int, default=1, help="seed of the first pair; pair i uses seed + i")
    p.add_argument("--workdir", help="directory for the parent's copy (default: a new temporary directory)")
    p.add_argument("--claim", required=True, metavar="METRIC",
                   help="the end-to-end metric of BENCHMARK.json a gain is claimed on")
    args = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        p.error(f"unknown workload {args.workload}")
    metrics = [m["name"] for m in spec["end_to_end"]]
    if args.claim not in metrics:
        p.error(f"--claim {args.claim} is not an end-to-end metric of BENCHMARK.json: {', '.join(metrics)}")
    seconds = spec["run_seconds"]
    if args.workdir:
        os.makedirs(args.workdir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="graft-ab-", dir=args.workdir)
    pairs = []
    try:
        parent = export(args.parent, tmp)
        sides = {"parent": parent, "change": ROOT}
        for i in range(args.pairs):
            seed = args.seed + i
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {"pair": i, "seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run(sides[side], args.workload, seed, seconds)
            pairs.append(pair)
            print(f"pair {i} seed {seed} first {order[0]}", flush=True)
            for side in ("parent", "change"):
                r = pair[side]
                vals = " ".join(f"{m['name']} {r['metrics'][m['name']]['value']:.4g}"
                                for m in spec["end_to_end"] if m["name"] in r.get("metrics", {}))
                print(f"  {side}: correct {r.get('correct')} failed {r.get('failed')} "
                      f"steal_s {r.get('env', {}).get('steal_s')} {vals}", flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print()
    print(summarise(spec, pairs, args.pairs, args.claim))
    modes = per_mode(pairs)
    if modes:
        print()
        print("per-mode median latency (each run's per-mode median, then the median over runs)")
        print(modes)
    tail = tail_by_mode(pairs)
    if tail:
        print()
        print("samples above each run's latency_p95_s, by mode (median count over runs)")
        print(tail)


if __name__ == "__main__":
    main()
