#!/usr/bin/env python3
"""Count code, comment and blank lines of Scala sources.

    python3 tools/loc.py [--rev REV] PATH...

Each PATH is a .scala file or a directory (searched recursively for
.scala files). With --rev the files are read from that git revision
instead of the working tree. A line is blank when it holds only
whitespace, comment when everything on it lies inside a `//` or
`/* ... */` comment (Scaladoc included), and code otherwise. String
literals are not parsed, so a comment marker inside a string counts
as a comment start.
"""
import argparse
import os
import subprocess
import sys


def classify(text):
    """Return (code, comment, blank) line counts for one file's text."""
    code = comment = blank = 0
    in_block = False
    for line in text.splitlines():
        rest = line.strip()
        if not rest and not in_block:
            blank += 1
            continue
        has_code = False
        while rest:
            if in_block:
                end = rest.find("*/")
                if end < 0:
                    rest = ""
                else:
                    in_block = False
                    rest = rest[end + 2:].strip()
            elif rest.startswith("//"):
                rest = ""
            elif rest.startswith("/*"):
                in_block = True
                rest = rest[2:]
            else:
                cut = [i for i in (rest.find("//"), rest.find("/*")) if i >= 0]
                has_code = True
                rest = rest[min(cut):] if cut else ""
        if has_code:
            code += 1
        else:
            comment += 1
    return code, comment, blank


def files_at(rev, path):
    if rev is None:
        if os.path.isfile(path):
            return [path]
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                      for f in fs if f.endswith(".scala"))
    out = subprocess.run(["git", "ls-tree", "-r", "--name-only", rev, "--", path],
                         check=True, capture_output=True, text=True).stdout
    return sorted(f for f in out.splitlines() if f.endswith(".scala"))


def read_at(rev, path):
    if rev is None:
        with open(path, encoding="utf-8") as f:
            return f.read()
    return subprocess.run(["git", "show", f"{rev}:{path}"], check=True,
                          capture_output=True, text=True).stdout


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="git revision to read (default: working tree)")
    ap.add_argument("paths", nargs="+")
    args = ap.parse_args()
    total = [0, 0, 0]
    print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
    for p in args.paths:
        for f in files_at(args.rev, p):
            counts = classify(read_at(args.rev, f))
            total = [t + c for t, c in zip(total, counts)]
            print(f"{counts[0]:7d} {counts[1]:7d} {counts[2]:7d}  {f}")
    print(f"{total[0]:7d} {total[1]:7d} {total[2]:7d}  total")


if __name__ == "__main__":
    sys.exit(main())
