#!/usr/bin/env python3
"""Lines of code at a parent revision and in the working tree.

    python3 scripts/loc.py --parent <rev> [paths...]

For `src/main`, `src/test` and every path given, prints the non-comment
count at `<rev>` and in the working tree, with the delta, then the physical
`git diff --numstat` totals between the two (untracked, not ignored files
count as added). A non-comment line is a non-blank line whose first
non-blank characters are not `//`, `/*` or `*`.
"""

import argparse
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def git(*args):
    return subprocess.run(["git", "-C", ROOT, *args], stdout=subprocess.PIPE, check=True).stdout


def non_comment(text):
    lines = (line.strip() for line in text.decode("utf-8", "replace").splitlines())
    return sum(1 for line in lines if line and not line.startswith(("//", "/*", "*")))


def at_rev(rev, path):
    files = git("ls-tree", "-r", "--name-only", rev, "--", path).decode().splitlines()
    return sum(non_comment(git("show", f"{rev}:{f}")) for f in files)


def untracked(path):
    return git("ls-files", "--others", "--exclude-standard", "--", path).decode().splitlines()


def in_tree(path):
    files = git("ls-files", "--cached", "--others", "--exclude-standard", "--", path).decode().splitlines()
    total = 0
    for f in files:
        full = os.path.join(ROOT, f)
        if os.path.isfile(full):
            with open(full, "rb") as fh:
                total += non_comment(fh.read())
    return total


def numstat(rev, path):
    added = removed = 0
    for line in git("diff", "--numstat", rev, "--", path).decode().splitlines():
        a, r, _ = line.split("\t", 2)
        if a != "-":
            added, removed = added + int(a), removed + int(r)
    for f in untracked(path):
        with open(os.path.join(ROOT, f), "rb") as fh:
            added += fh.read().count(b"\n")
    return added, removed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="revision to compare against")
    ap.add_argument("paths", nargs="*", help="paths beyond src/main and src/test")
    args = ap.parse_args()
    print(f"{'path':<40} {'non-comment ' + args.parent:>22} {'tree':>8} {'delta':>7}"
          f" {'added':>7} {'removed':>8} {'net':>7}")
    for path in ["src/main", "src/test"] + args.paths:
        before, after = at_rev(args.parent, path), in_tree(path)
        added, removed = numstat(args.parent, path)
        print(f"{path:<40} {before:>22,} {after:>8,} {after - before:>+7,}"
              f" {added:>+7,} {-removed:>+8,} {added - removed:>+7,}")


if __name__ == "__main__":
    main()
