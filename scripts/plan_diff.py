#!/usr/bin/env python3
"""Compare two `graft.tools.QPlans` dumps, ignoring ids that vary per run.

    python3 scripts/plan_diff.py <dirA> <dirB>

Each directory holds one `<query>_<suffix>.txt` per query, as written by
`graft.tools.QPlans <sfDir> <outDir> <suffix> <names...>`; files pair up by
query name, whatever their suffixes. Before comparing, each file's
run-varying ids are renumbered in order of first appearance, separately per
kind:

- expression ids (`doc_id#123L`, `sum#45`);
- RDD ids (`MapPartitionsRDD[79]`) and the source line of an RDD's call
  site (`localCheckpoint at Corpus.scala:1327`);
- plan ids (`plan_id=12`, `planId=12`);
- the run's scratch directory (`/tmp/graft_scratch_1256`) and the UUIDs in
  the names of the files a query wrote;
- a closure's JVM identity (`Ingest$$$Lambda$7128/0x00007fd7d196ca10@78c40d13`);
- which file a Location over several files names first (`[file:/…/part-00002…,
  ... 7 entries]` keeps only `... 7 entries`): the listing order varies.

Two plans whose only differences are such ids compare equal; any other
difference — an operator, an expression, a literal, a column name — does not.
Prints the queries whose plans still differ (with the first differing line
of each), the queries present on one side only, then `N/M identical` over
the queries present on both sides. Exits 0 only when every paired plan is
identical and no query is missing from either side.
"""

import os
import re
import sys

# Each pattern's group 1 is the id; only that group is renumbered.
ID_KINDS = [
    re.compile(r"#(\d+)"),                    # expression ids
    re.compile(r"RDD\[(\d+)\]"),              # RDD ids
    re.compile(r"(?:plan_id|planId)=(\d+)"),  # plan ids
    re.compile(r"graft_scratch_(\d+)"),       # the run's scratch directory
    re.compile(r"([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})"),  # file UUIDs
    re.compile(r"\.scala:(\d+)"),             # source line of an RDD's call site
    re.compile(r"(\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+)"),  # a closure's JVM identity
]

# A Location over several files names only the first one listed, and the
# listing order varies from run to run: keep the file count alone.
FIRST_OF_MANY = re.compile(r"(InMemoryFileIndex \[)[^\]]*?, (\.\.\. \d+ entries)")


def normalize(text):
    """Renumber each kind of run-varying id by order of first appearance."""
    for pattern in ID_KINDS:
        seen = {}

        def renumber(m):
            n = seen.setdefault(m.group(1), len(seen))
            whole, start, end = m.group(0), m.start(1) - m.start(0), m.end(1) - m.start(0)
            return f"{whole[:start]}{n}{whole[end:]}"

        text = pattern.sub(renumber, text)
    return FIRST_OF_MANY.sub(r"\1\2", text)


def plans(directory):
    """Map query name -> plan text for every `<query>_<suffix>.txt` file."""
    out = {}
    for name in sorted(os.listdir(directory)):
        if name.endswith(".txt") and "_" in name:
            query = name[: -len(".txt")].rsplit("_", 1)[0]
            with open(os.path.join(directory, name), encoding="utf-8") as f:
                out[query] = f.read()
    return out


def first_difference(a, b):
    for i, (la, lb) in enumerate(zip(a.splitlines(), b.splitlines()), start=1):
        if la != lb:
            return f"line {i}: {la.strip()[:120]!r} vs {lb.strip()[:120]!r}"
    return "one plan is a prefix of the other"


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    a, b = plans(argv[1]), plans(argv[2])
    both = sorted(a.keys() & b.keys())
    differ = []
    for q in both:
        na, nb = normalize(a[q]), normalize(b[q])
        if na != nb:
            differ.append(q)
            print(f"DIFF {q}: {first_difference(na, nb)}")
    for q in sorted(a.keys() - b.keys()):
        print(f"ONLY-A {q}")
    for q in sorted(b.keys() - a.keys()):
        print(f"ONLY-B {q}")
    print(f"{len(both) - len(differ)}/{len(both)} identical")
    return 0 if not differ and a.keys() == b.keys() else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
