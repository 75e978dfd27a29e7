#!/usr/bin/env python3
"""List Scala defs that nothing else in the main sources names.

    python3 tools/unreached.py [--rev REV] [--main DIR] [--tests DIR] [--bench DIR]

A def in the main tree (default src/main/scala) is listed when its name
occurs nowhere in that tree, comments excluded, except at the def sites
of that name. For each one the script prints where it is defined and how
many times the test tree (default src/test/scala) and the benchmark
sources (default perfbench/src) name it. A def that only tests reach is
a candidate for deletion together with its tests; one that nothing
reaches at all is dead.

Names are matched as whole identifiers, so a mention inside a string
literal counts as a use (reflection and registries look names up that
way). Defs the language or a framework calls without naming them are
skipped: `override def`, `main`, `apply`, `unapply`, `update` and
symbolic operators. With --rev the files are read from that git
revision instead of the working tree.
"""
import argparse
import collections
import re
import sys

sys.path.insert(0, __file__.rsplit("/", 1)[0])
from loc import files_at, read_at  # noqa: E402

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
SKIP = {"main", "apply", "unapply", "unapplySeq", "update"}


def strip_comments(text):
    """Blank out `//` and `/* */` comments; keep strings and line breaks."""
    out = []
    i, n, depth = 0, len(text), 0
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                out.append("\n" if c == "\n" else " ")
                i += 1
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
        elif text.startswith('"""', i):
            end = text.find('"""', i + 3)
            end = n if end < 0 else end + 3
            out.append(text[i:end])
            i = end
        elif c == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1])
            i = j + 1
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal such as '/' or '\n' (a quote that opens a
            # symbol or a type parameter is left as it is)
            end = text.find("'", i + (3 if text[i + 1] == "\\" else 2))
            out.append(text[i:end + 1])
            i = end + 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


def word_counts(rev, root):
    counts = collections.Counter()
    for f in files_at(rev, root):
        counts.update(IDENT.findall(strip_comments(read_at(rev, f))))
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="git revision to read (default: working tree)")
    ap.add_argument("--main", default="src/main/scala")
    ap.add_argument("--tests", default="src/test/scala")
    ap.add_argument("--bench", default="perfbench/src")
    args = ap.parse_args()
    used = collections.Counter()
    defs = collections.defaultdict(list)
    for f in files_at(args.rev, args.main):
        code = strip_comments(read_at(args.rev, f))
        used.update(IDENT.findall(code))
        for m in DEF.finditer(code):
            name = m.group(1)
            prefix = code[code.rfind("\n", 0, m.start()) + 1:m.start()]
            if name in SKIP or re.search(r"\boverride\b", prefix):
                continue
            defs[name].append(f"{f}:{code.count(chr(10), 0, m.start()) + 1}")
    tests = word_counts(args.rev, args.tests)
    bench = word_counts(args.rev, args.bench)
    rows = sorted((site, name) for name, sites in defs.items()
                  if used[name] == len(sites) for site in sites)
    print(f"{'tests':>5} {'bench':>5}  def")
    for site, name in rows:
        print(f"{tests[name]:5d} {bench[name]:5d}  {site} {name}")
    print(f"{len(rows)} defs named nowhere else in {args.main}")


if __name__ == "__main__":
    sys.exit(main())
