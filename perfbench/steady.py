"""Steadiness check: two sets of runs of the same code, compared.

    python3 perfbench/steady.py --runs 5

Runs `run.py` for set A (seeds 1..runs) and set B (the next `runs` seeds) on
every workload in BENCHMARK.json, one run at a time. For each end-to-end
metric it prints:
  - the median of each set and whether B is within the metric's bound of A;
  - the spread of all runs, the interquartile range over the median, which
    must stay within the bound (for all metrics but `setup_s`).
Every run's values, nproc and load average go to `--out` as JSON.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def one_run(workload, seed, seconds):
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    t = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{r.stdout[-2000:]}")
    result = json.loads(lines[-1])
    return {"workload": workload, "seed": seed, "loadavg": load, "wall_s": time.time() - t,
            "nproc": len(os.sched_getaffinity(0)), "summary": lines[:-1], **result}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5, help="runs per set and workload")
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_build", "perfbench", "steady.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs = []
    for w in workloads:
        for i in range(2 * args.runs):
            seed = 1 + i
            runs.append(one_run(w, seed, bench["run_seconds"]))
            r = runs[-1]
            print(f"{w} seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
                  + " ".join(f"{k}={v['value']:.3f}" for k, v in r["metrics"].items())
                  + f" loadavg={' '.join(r['loadavg'])} wall={r['wall_s']:.0f}s", flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(runs, f, indent=1)

    steady = True
    print(f"\n{'workload':<18}{'metric':<14}{'median A':>10}{'median B':>10}{'B/A-1':>8}"
          f"{'bound':>7}{'spread':>8}  verdict")
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w]
        for m, bound in bounds.items():
            a = [r["metrics"][m]["value"] for r in mine[:args.runs]]
            b = [r["metrics"][m]["value"] for r in mine[args.runs:]]
            drift = statistics.median(b) / statistics.median(a) - 1
            sp = spread(a + b)
            ok = abs(drift) <= bound and (m == "setup_s" or sp <= bound)
            steady &= ok and all(r["correct"] for r in mine)
            print(f"{w:<18}{m:<14}{statistics.median(a):>10.3f}{statistics.median(b):>10.3f}"
                  f"{drift:>+8.1%}{bound:>7.2f}{sp:>8.1%}  "
                  f"{'agree' if ok else 'DISAGREE'}{'' if sp <= bound / 3 else ' (spread above a third of the bound)'}")
    print("\nsteady" if steady else "\nNOT steady")
    sys.exit(0 if steady else 1)


if __name__ == "__main__":
    main()
