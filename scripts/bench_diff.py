#!/usr/bin/env python3
"""Compare two `bench_detail.json` files query by query.

    python3 scripts/bench_diff.py <a.json> <b.json>

Joins the two records by query name and prints both totals, the per-query
seconds of each side with Δ = b - a (sorted from the largest gain to the
largest loss), and every query that failed or was skipped on either side,
or that only one side ran. Δ is computed over queries that passed on both
sides; the totals are the files' own `value`.
"""

import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    queries = d.get("queries", {})
    ok = {n: q["sec"] for n, q in queries.items() if q.get("ok")}
    failed = {n for n, q in queries.items() if not q.get("ok")} | set(d.get("failed", []))
    return d, ok, failed, set(d.get("skipped", []))


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.strip())
    a_path, b_path = argv[1], argv[2]
    a, a_ok, a_failed, a_skipped = load(a_path)
    b, b_ok, b_failed, b_skipped = load(b_path)

    print(f"total  a {a.get('value', 0):10.2f} s  {a_path}")
    print(f"total  b {b.get('value', 0):10.2f} s  {b_path}")
    for k in ("warmup_sec", "spent_sec", "n_contended"):
        if k in a or k in b:
            print(f"{k:12} a {a.get(k, '-')!s:>8}  b {b.get(k, '-')!s:>8}")

    both = sorted(set(a_ok) & set(b_ok), key=lambda n: (b_ok[n] - a_ok[n], n))
    print(f"\n{'query':40} {'a sec':>8} {'b sec':>8} {'Δ sec':>8}")
    for n in both:
        print(f"{n:40} {a_ok[n]:8.2f} {b_ok[n]:8.2f} {b_ok[n] - a_ok[n]:+8.2f}")
    sa, sb = sum(a_ok[n] for n in both), sum(b_ok[n] for n in both)
    print(f"{'sum over ' + str(len(both)) + ' passed on both':40} {sa:8.2f} {sb:8.2f} {sb - sa:+8.2f}")

    rows = []
    for side, failed, skipped in (("a", a_failed, a_skipped), ("b", b_failed, b_skipped)):
        rows += [(n, side, "failed") for n in failed]
        rows += [(n, side, "skipped") for n in skipped]
    a_all = set(a.get("queries", {})) | a_skipped
    b_all = set(b.get("queries", {})) | b_skipped
    rows += [(n, "b", "absent") for n in a_all - b_all]
    rows += [(n, "a", "absent") for n in b_all - a_all]
    print(f"\nfailed, skipped or absent on either side: {len(rows)}")
    for n, side, what in sorted(rows):
        print(f"  {n:40} {side} {what}")


if __name__ == "__main__":
    main(sys.argv)
