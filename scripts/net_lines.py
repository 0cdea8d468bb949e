#!/usr/bin/env python3
"""Net line count of the working tree against a base revision.

Usage: python3 scripts/net_lines.py <base-rev> [--files]

Reads `git diff --numstat <base-rev>` (committed and uncommitted changes,
plus untracked files that are not ignored) and prints lines added, deleted
and net for three groups: src/main, src/test and everything else. With
--files it also prints the figures per file. Binary files count as 0.
"""
import subprocess
import sys

GROUPS = ("src/main", "src/test", "other")


def group_of(path):
    for g in GROUPS[:-1]:
        if path.startswith(g + "/"):
            return g
    return "other"


def numstat(base):
    rows = []
    out = subprocess.run(["git", "diff", "--numstat", base], check=True,
                         capture_output=True, text=True).stdout
    for line in out.splitlines():
        added, deleted, path = line.split("\t", 2)
        rows.append((0 if added == "-" else int(added),
                     0 if deleted == "-" else int(deleted), path))
    untracked = subprocess.run(
        ["git", "ls-files", "--others", "--exclude-standard"],
        check=True, capture_output=True, text=True).stdout.split()
    for path in untracked:
        try:
            with open(path, "rb") as f:
                rows.append((f.read().count(b"\n"), 0, path))
        except OSError:
            pass
    return rows


def main():
    args = [a for a in sys.argv[1:] if a != "--files"]
    if len(args) != 1:
        sys.exit(__doc__.strip())
    rows = numstat(args[0])
    if "--files" in sys.argv:
        for added, deleted, path in sorted(rows, key=lambda r: r[2]):
            print(f"{added:7d} {deleted:7d} {added - deleted:+7d}  {path}")
        print()
    print(f"{'group':10s} {'added':>7s} {'deleted':>7s} {'net':>7s}")
    totals = [0, 0]
    for g in GROUPS:
        a = sum(r[0] for r in rows if group_of(r[2]) == g)
        d = sum(r[1] for r in rows if group_of(r[2]) == g)
        totals[0] += a
        totals[1] += d
        print(f"{g:10s} {a:7d} {d:7d} {a - d:+7d}")
    print(f"{'total':10s} {totals[0]:7d} {totals[1]:7d} {totals[0] - totals[1]:+7d}")


if __name__ == "__main__":
    main()
