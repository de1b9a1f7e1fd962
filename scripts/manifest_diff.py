#!/usr/bin/env python3
"""Compare the manifest histories of manifest tables, version by version.

    python3 scripts/manifest_diff.py <dirA> <dirB>

Each argument is a manifest table directory (it holds `_manifests/`) or a
directory of such tables, searched recursively; tables pair up by their
path relative to the argument. For every version `manifest-<v>.txt` of a
paired table, both sides' manifests are compared after normalising what
varies from run to run:

- every base64 field of a header line is decoded, so a difference reads as
  text (`#stats=<rel>|<col>|...`, `#dv=<rel>`, `#meta=<key>|<value>`, ...);
- the `data/<uuid>` directory a commit wrote is renumbered in order of
  first appearance in that table's history (dirs first seen in the same
  version in the order of their lines' content), and a part file's name
  (`part-00003-<uuid>-c000.snappy.parquet`) keeps only its part number;
- the compared directory's own absolute path (a derived table's
  `#indexof` source, a carry list given as absolute paths) reads `<root>`;
- the lines are sorted.

A `#bloom`, `#ndv` or `#size` line then still names its file by the masked
path, so two runs compare equal exactly when they committed the same files
(as far as part numbers and commit order tell them apart) with the same
statistics and headers. Prints each version that differs (with the first
differing line), the versions and tables present on one side only, then
`N/M identical` over the versions present on both sides. Exits 0 only
when every paired version is identical and nothing is missing.
"""

import base64
import os
import re
import sys

UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
PART = re.compile(r"part-(\d+)-[^/|]*?\.parquet")
DATA_DIR = re.compile(r"data/(" + UUID.pattern + r")")
VERSION = re.compile(r"manifest-(\d+)\.txt$")

# which `|`-separated fields of each header kind are base64
B64_FIELDS = {
    "#stats=": {0, 1, 3, 4},
    "#size=": {0},
    "#bloom=": {0, 1, 4},
    "#ndv=": {0, 1, 3},
    "#dv=": {0},
    "#check=": {0},
    "#unique=": {0},
    "#indexof=": {0},
    "#meta=": {0, 1},
    "#streambatch=": {0},
}


def unb64(field):
    if field == "-":
        return field
    try:
        return base64.b64decode(field, validate=True).decode("utf-8")
    except ValueError:
        return field


def decode(line):
    for kind, fields in B64_FIELDS.items():
        if line.startswith(kind):
            parts = line[len(kind):].split("|")
            return kind + "|".join(
                unb64(p) if i in fields else p for i, p in enumerate(parts))
    return line


class Masker:
    """Renumbers one table's data dirs in order of first appearance.

    The dirs a version introduces are numbered in the order of their
    lines' content (uuids masked), never of the uuids themselves, so two
    runs of one sequence number them alike."""

    def __init__(self):
        self.dirs = {}

    def add_version(self, lines):
        def anon(line):
            return UUID.sub("<uuid>", PART.sub(
                lambda m: "part-%s.parquet" % m.group(1), line))
        new = {}
        for line in lines:
            for d in DATA_DIR.findall(line):
                if d not in self.dirs:
                    new.setdefault(d, []).append(anon(line))
        for d in sorted(new, key=lambda d: sorted(new[d])):
            self.dirs[d] = len(self.dirs)

    def __call__(self, line):
        line = DATA_DIR.sub(lambda m: "data/<d%d>" % self.dirs[m.group(1)], line)
        line = PART.sub(lambda m: "part-%s.parquet" % m.group(1), line)
        return UUID.sub("<uuid>", line)


def tables(root):
    """Relative path -> table dir, for every dir under root with _manifests."""
    out = {}
    for here, dirs, _ in os.walk(root):
        if "_manifests" in dirs:
            out[os.path.relpath(here, root)] = here
            dirs[:] = [d for d in dirs if d not in ("_manifests", "data")]
    return out


def history(table, root):
    """Version -> normalised, sorted manifest lines, oldest version first."""
    root = os.path.abspath(root)
    mdir = os.path.join(table, "_manifests")
    versions = sorted(
        (int(m.group(1)), name)
        for name in os.listdir(mdir) for m in [VERSION.search(name)]
        if m and not name.startswith("."))
    mask = Masker()
    out = {}
    for v, name in versions:
        with open(os.path.join(mdir, name), encoding="utf-8") as f:
            lines = [decode(l.strip()).replace(root, "<root>")
                     for l in f.read().split("\n") if l.strip()]
        mask.add_version(lines)
        out[v] = sorted(mask(l) for l in lines)
    return out


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip().split("\n\n")[1].strip(), file=sys.stderr)
        return 2
    ta, tb = tables(sys.argv[1]), tables(sys.argv[2])
    same = total = 0
    ok = True
    for name in sorted(set(ta) | set(tb)):
        if name not in ta or name not in tb:
            print("table %s: only in %s" % (name, "A" if name in ta else "B"))
            ok = False
            continue
        ha = history(ta[name], sys.argv[1])
        hb = history(tb[name], sys.argv[2])
        for v in sorted(set(ha) | set(hb)):
            if v not in ha or v not in hb:
                print("%s v%d: only in %s" % (name, v, "A" if v in ha else "B"))
                ok = False
                continue
            total += 1
            if ha[v] == hb[v]:
                same += 1
                continue
            ok = False
            first = next(
                (i for i, (a, b) in enumerate(zip(ha[v], hb[v])) if a != b),
                min(len(ha[v]), len(hb[v])))
            a = ha[v][first] if first < len(ha[v]) else "<end>"
            b = hb[v][first] if first < len(hb[v]) else "<end>"
            print("%s v%d differs at line %d:\n  A: %s\n  B: %s"
                  % (name, v, first + 1, a[:200], b[:200]))
    print("%d/%d identical" % (same, total))
    return 0 if ok and total > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
