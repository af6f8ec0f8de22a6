#!/usr/bin/env python3
"""Count code lines (non-blank, non-comment) in Scala sources.

    python3 tools/loc.py [--base REV] [paths ...]

Prints one line per .scala file under the given paths (default:
src/main/scala) and a total. With --base, each line also carries the
file's count at REV (read with `git show REV:path`) and the delta, and
files that exist on only one side are listed too.

A line counts when, after stripping whitespace, something other than a
comment remains: `//` lines and the lines of `/* ... */` blocks
(scaladoc included) are skipped. Run it from the repository root.
"""
import argparse
import os
import subprocess
import sys


def code_lines(text):
    n = 0
    in_block = False
    for raw in text.splitlines():
        line = raw.strip()
        if in_block:
            end = line.find("*/")
            if end < 0:
                continue
            in_block = False
            line = line[end + 2:].strip()
        if not line or line.startswith("//"):
            continue
        if line.startswith("/*"):
            end = line.find("*/", 2)
            if end < 0:
                in_block = True
                continue
            line = line[end + 2:].strip()
            if not line or line.startswith("//"):
                continue
        n += 1
    return n


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True,
                          text=True).stdout


def worktree_files(paths):
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append(p)
            continue
        for root, _, names in os.walk(p):
            out += [os.path.join(root, n) for n in names if n.endswith(".scala")]
    return {os.path.normpath(f) for f in out}


def base_files(rev, paths):
    listed = git("ls-tree", "-r", "--name-only", rev, "--", *paths).split("\n")
    return {os.path.normpath(f) for f in listed if f.endswith(".scala")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", help="git revision to compare against")
    ap.add_argument("paths", nargs="*", default=["src/main/scala"])
    a = ap.parse_args()

    now = {}
    for f in worktree_files(a.paths):
        with open(f, encoding="utf-8") as fh:
            now[f] = code_lines(fh.read())
    if not a.base:
        for f in sorted(now):
            print(f"{now[f]:7d}  {f}")
        print(f"{sum(now.values()):7d}  total")
        return 0

    was = {f: code_lines(git("show", f"{a.base}:{f}"))
           for f in base_files(a.base, a.paths)}
    print(f"{'now':>7}  {'base':>7}  {'delta':>7}  file")
    for f in sorted(set(now) | set(was)):
        n, b = now.get(f, 0), was.get(f, 0)
        print(f"{n:7d}  {b:7d}  {n - b:+7d}  {f}")
    tn, tb = sum(now.values()), sum(was.values())
    print(f"{tn:7d}  {tb:7d}  {tn - tb:+7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main())
