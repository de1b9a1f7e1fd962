#!/usr/bin/env python3
"""Alternating perfbench pairs: a parent revision against the working tree.

    python3 scripts/perf_pairs.py --parent HEAD~1 --workload plug_audit --seeds 1-10

Exports the parent revision with `git archive` into a temporary directory,
copies the working tree's perfbench input tables (`.bench_build/perfbench/data`)
there, then runs `perfbench/run.py --seconds 10 --trace 0` once per seed on
each side, alternating: the parent first on odd seeds, the working tree first
on even ones. Prints every pair, then per end-to-end metric of BENCHMARK.json
the median (quartiles) of each side, the change of the medians, the pairs the
working tree won and the parent's interquartile range, and the passes
attempted and failed. Exits non-zero if any run fails or fails its check.
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


def seeds(spec):
    """`1-10` or `1,3,5-7` as a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def export(rev, into):
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE, check=True)
    subprocess.run(["tar", "-x", "-C", into], input=archive.stdout, check=True)
    data = os.path.join(ROOT, ".bench_build", "perfbench", "data")
    if os.path.isdir(data):
        shutil.copytree(data, os.path.join(into, ".bench_build", "perfbench", "data"))


def run(checkout, workload, seed):
    """The result JSON of one run, or None when it fails; its output is echoed."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", "10", "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(f"    {line}")
    try:
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except json.JSONDecodeError:
        res = None
    if res is None:
        print(f"    run failed (exit {p.returncode}): {lines[-1] if lines else ''}")
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git revision to compare the working tree against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5-7")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    tmp = tempfile.mkdtemp(prefix="perf_pairs_")
    try:
        export(args.parent, tmp)
        sides = {"parent": tmp, "change": ROOT}
        results = {"parent": {}, "change": {}}
        for seed in seeds(args.seeds):
            order = ["parent", "change"] if seed % 2 else ["change", "parent"]
            for side in order:
                print(f"seed {seed}: {side}", flush=True)
                results[side][seed] = run(sides[side], args.workload, seed)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ok = all(r is not None and r["failed"] == 0 for side in results.values() for r in side.values())
    paired = [s for s in results["parent"] if results["parent"][s] and results["change"].get(s)]
    names = [m["name"] for m in metrics]
    print(f"\n{args.workload}: {len(paired)} pairs, parent {args.parent} -> working tree")
    print("seed  " + "  ".join(f"{n:>23}" for n in names))
    for s in paired:
        cells = [f"{results['parent'][s]['metrics'][n]['value']:>10.3f} -> "
                 f"{results['change'][s]['metrics'][n]['value']:<9.3f}" for n in names]
        print(f"{s:>4}  " + "  ".join(cells))
    print("\n| metric | parent | change | Δ median | change wins | parent IQR |")
    print("|---|---|---|---|---|---|")
    for m in metrics:
        n, lower = m["name"], m["better"] == "lower"
        par = [results["parent"][s]["metrics"][n]["value"] for s in paired]
        chg = [results["change"][s]["metrics"][n]["value"] for s in paired]
        if not paired:
            continue
        (p1, p2, p3), (c1, c2, c3) = quartiles(par), quartiles(chg)
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        delta = (c2 - p2) / p2 * 100 if p2 else 0.0
        print(f"| {n} | {p2:.3f} ({p1:.3f}–{p3:.3f}) | {c2:.3f} ({c1:.3f}–{c3:.3f}) | {delta:+.1f}% "
              f"| {wins}/{len(paired)} | {p3 - p1:.3f} |")
    for side in ("parent", "change"):
        done = [r for r in results[side].values() if r]
        print(f"{side}: passes attempted {sum(r['attempted'] for r in done)}, "
              f"failed {sum(r['failed'] for r in done)}, runs failed {len(results[side]) - len(done)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
