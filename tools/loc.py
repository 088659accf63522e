#!/usr/bin/env python3
"""Dev-only harness (NOT part of the shipped library): count code,
comment and blank lines per Scala file, so size and simplicity claims
are measured one way.

Usage: python3 tools/loc.py [--rev REV] [PATH ...]

PATHs (files or directories, default `src/main`) are read from the
working tree, or from git revision REV with `--rev`. A line is
`blank` when it holds only whitespace, `comment` when it is a `//`
line or lies in a `/* ... */` block (Scaladoc included), and `code`
otherwise — a code line with a trailing comment counts as code.
Prints one row per file (code, comment, blank, path) and a total row.
"""
import argparse
import os
import re
import subprocess
import sys

STRING = re.compile(r'"(?:\\.|[^"\\])*"')


def classify(text: str):
    """(code, comment, blank) line counts of one Scala source."""
    code = comment = blank = 0
    in_block = False
    for line in text.split("\n"):
        s = line.strip()
        if in_block:
            comment += 1
            if "*/" in s:
                in_block = False
        elif not s:
            blank += 1
        elif s.startswith("//"):
            comment += 1
        elif s.startswith("/*"):
            comment += 1
            in_block = "*/" not in s[2:]
        else:
            code += 1
            bare = STRING.sub('""', s)
            opened = bare.rfind("/*")
            in_block = opened >= 0 and "*/" not in bare[opened + 2:]
    if text.endswith("\n"):
        blank -= 1  # the empty string after the final newline is no line
    return code, comment, blank


def worktree_files(paths):
    for p in paths:
        if os.path.isfile(p):
            yield p
        for d, _, names in os.walk(p):
            for n in names:
                if n.endswith(".scala"):
                    yield os.path.join(d, n)


def rev_files(rev, paths):
    out = subprocess.check_output(["git", "ls-tree", "-r", "--name-only", rev, "--", *paths],
                                  text=True)
    return [f for f in out.split("\n") if f.endswith(".scala")]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rev", help="git revision to read instead of the working tree")
    ap.add_argument("paths", nargs="*", default=["src/main"])
    a = ap.parse_args()
    if a.rev:
        files = sorted(rev_files(a.rev, a.paths))
        read = lambda f: subprocess.check_output(["git", "show", f"{a.rev}:{f}"], text=True)
    else:
        files = sorted(set(worktree_files(a.paths)))
        read = lambda f: open(f, encoding="utf-8").read()
    if not files:
        sys.exit(f"no .scala files under {' '.join(a.paths)}")
    total = [0, 0, 0]
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for f in files:
        counts = classify(read(f))
        total = [t + c for t, c in zip(total, counts)]
        print(f"{counts[0]:7d} {counts[1]:7d} {counts[2]:7d}  {f}")
    print(f"{total[0]:7d} {total[1]:7d} {total[2]:7d}  total ({len(files)} files)")


if __name__ == "__main__":
    main()
