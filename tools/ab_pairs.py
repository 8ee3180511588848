#!/usr/bin/env python3
"""A/B the repository benchmark between two commits, in interleaved pairs.

    python3 tools/ab_pairs.py HEAD~1 HEAD --seeds 801-810
    python3 tools/ab_pairs.py HEAD --seeds 801-810            # HEAD vs the work tree
    python3 tools/ab_pairs.py HEAD~1 HEAD --seeds 7 --trace 1 --workloads jhu-lake
    python3 tools/ab_pairs.py --from runs.jsonl               # summarize saved runs again

Each side is a fresh copy under one temporary directory: `git archive` of a
ref, or, for the work tree (the second side when it is left out, or the word
WORKTREE), its tracked and untracked files that git does not ignore. For
every seed and every workload the two sides run `python3 jhubench/run.py
--workload W --seed S --trace T` one after the other, and the side that goes
first alternates from seed to seed, so a host whose speed drifts treats both
sides alike.

The summary has one line per workload and metric: the median [q1, q3] of
each side (Python `statistics.quantiles(values, n=4)`), the pairs the second
side wins, and, for an end-to-end metric of BENCHMARK.json, `WORSE` when the
second side's median is worse than the first's by more than the metric's
bound. A run that fails or reports `correct: false` is listed and left out of
the summary. `--out` keeps every run's result line as JSON lines.

The tool reads BENCHMARK.json and jhubench/ and writes into neither: each
run builds and works inside its own copy, and the copies are removed at exit.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "WORKTREE"


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def checkout(ref, dest):
    """A copy of `ref` (or of the work tree) at `dest`."""
    os.makedirs(dest)
    if ref == WORKTREE:
        files = subprocess.run(["git", "ls-files", "-z", "-c", "-o", "--exclude-standard"], cwd=ROOT,
                               check=True, capture_output=True).stdout.decode().split("\0")
        for f in filter(None, files):
            src = os.path.join(ROOT, f)
            if os.path.isfile(src):
                os.makedirs(os.path.dirname(os.path.join(dest, f)), exist_ok=True)
                shutil.copy2(src, os.path.join(dest, f))
    else:
        archive = subprocess.run(["git", "archive", ref], cwd=ROOT, check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_one(copy, workload, seed, trace, seconds):
    cmd = [sys.executable, "jhubench/run.py", "--workload", workload, "--seed", str(seed), "--trace", str(trace)]
    if seconds:
        cmd += ["--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=copy, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return p.returncode, result, (p.stdout + p.stderr)[-2000:]


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def fmt(v):
    return f"{v:.4g}"


def summarize(runs, spec, sides):
    """Print the per-workload, per-metric comparison of `runs` (dicts with
    side, workload, seed, code, result). Returns the number of WORSE flags."""
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    a, b = sides
    worse = 0
    bad = [r for r in runs if r["code"] != 0 or not r["result"] or not r["result"].get("correct")]
    for r in bad:
        print(f"FAILED RUN: {r['side']} {r['workload']} seed {r['seed']} exit {r['code']}")
    good = {(r["side"], r["workload"], r["seed"]): r["result"]["metrics"] for r in runs if r not in bad}
    for w in sorted({r["workload"] for r in runs}):
        seeds = sorted({s for (_, wl, s) in good if wl == w})
        pairs = [s for s in seeds if (a, w, s) in good and (b, w, s) in good]
        print(f"\n{w}: {len(pairs)} pairs, {a} -> {b}")
        names = list(good[(a, w, pairs[0])]) if pairs else []
        for m in names:
            va = [good[(a, w, s)][m]["value"] for s in pairs]
            vb = [good[(b, w, s)][m]["value"] for s in pairs]
            direction = better.get(m, "lower")
            wins = sum(1 for x, y in zip(va, vb) if (y < x if direction == "lower" else y > x))
            qa, qb = quartiles(va), quartiles(vb)
            flag = ""
            if m in bounds and qa[1] != 0:
                rel = (qb[1] - qa[1]) / abs(qa[1])
                if (rel if direction == "lower" else -rel) > bounds[m]["bound"]:
                    flag = f"  WORSE by {abs(rel):.1%} > bound {bounds[m]['bound']:.0%}"
                    worse += 1
            print(f"  {m:34s} {fmt(qa[1])} [{fmt(qa[0])}, {fmt(qa[2])}] -> {fmt(qb[1])} [{fmt(qb[0])}, {fmt(qb[2])}]"
                  f"  {b} wins {wins}/{len(pairs)} ({direction} is better){flag}")
    return worse


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base", nargs="?", help="git ref of the first side")
    ap.add_argument("change", nargs="?", default=WORKTREE, help=f"git ref of the second side (default: {WORKTREE})")
    ap.add_argument("--seeds", default="801-810", help="seeds, e.g. 801-810 or 7,9 (default 801-810)")
    ap.add_argument("--workloads", help="comma-separated (default: every workload of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seconds", type=int, help="passed to run.py (default: its own)")
    ap.add_argument("--out", help="append every run's result as a JSON line to this file")
    ap.add_argument("--from", dest="from_file", help="summarize the runs saved by --out instead of running")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    if a.from_file:
        with open(a.from_file) as fh:
            runs = [json.loads(line) for line in fh if line.strip()]
        sides = list(dict.fromkeys(r["side"] for r in runs))
        return 1 if summarize(runs, spec, sides) else 0
    if not a.base:
        ap.error("give a base ref, or --from")

    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in spec["workloads"]]
    sides = [a.base, a.change]
    if sides[0] == sides[1]:
        sides = [sides[0] + " (A)", sides[1] + " (B)"]
    tmp = tempfile.mkdtemp(prefix="ab_pairs_")
    runs = []
    try:
        copies = {}
        for i, (side, ref) in enumerate(zip(sides, [a.base, a.change])):
            copies[side] = os.path.join(tmp, f"side{i}")
            checkout(ref, copies[side])
        for k, seed in enumerate(seeds_of(a.seeds)):
            for w in workloads:
                for side in (sides if k % 2 == 0 else sides[::-1]):
                    code, result, tail = run_one(copies[side], w, seed, a.trace, a.seconds)
                    r = {"side": side, "workload": w, "seed": seed, "code": code, "result": result}
                    runs.append(r)
                    status = "ok" if code == 0 else f"exit {code}:\n{tail}"
                    print(f"[run] {side} {w} seed {seed}: {status}", flush=True)
                    if a.out:
                        with open(a.out, "a") as fh:
                            fh.write(json.dumps(r) + "\n")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if summarize(runs, spec, sides) else 0


if __name__ == "__main__":
    sys.exit(main())
