"""Run every workload for one seed, one after the other.

    python3 perfbench/all.py --seed 1 [--trace 1]

The workloads are those of BENCHMARK.json plus `plug_long_chain`, each run by
`run.py` with BENCHMARK.json's `run_seconds`; their reports are printed in
turn. Exits non-zero if any run failed or was incorrect.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    for w in [w["name"] for w in bench["workloads"]] + ["plug_long_chain"]:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                            "--seed", str(args.seed), "--seconds", str(bench["run_seconds"]),
                            "--trace", str(args.trace)], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        print(r.stdout, end="", flush=True)
        lines = r.stdout.strip().splitlines()
        ok &= r.returncode == 0 and bool(lines) and json.loads(lines[-1])["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
