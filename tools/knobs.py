#!/usr/bin/env python3
"""List the parameters with a default value on non-private Scala defs.

    python3 tools/knobs.py [--rev REV] [PATH...]

Each PATH is a .scala file or a directory searched recursively (default
src/main/scala). For every `def` whose own modifiers do not include
`private` (`private[pkg]` counts as private), each parameter that
declares a default value (`name: T = value`) is printed with its
file:line, the def's name and the parameter's name, followed by the
total. Every such parameter is a value a caller can set and most leave
alone. Constructor parameters are not defs and are not listed. With
--rev the files are read from that git revision instead of the working
tree.
"""
import argparse
import re
import sys

sys.path.insert(0, __file__.rsplit("/", 1)[0])
from loc import files_at, read_at  # noqa: E402
from unreached import strip_comments  # noqa: E402

DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
OPEN, CLOSE = "([{", ")]}"


def skip_string(text, i):
    """Index just past the string literal that opens at text[i]."""
    if text.startswith('"""', i):
        end = text.find('"""', i + 3)
        return len(text) if end < 0 else end + 3
    i += 1
    while i < len(text) and text[i] not in '"\n':
        i += 2 if text[i] == "\\" else 1
    return i + 1


def balanced(code, i):
    """End index (exclusive) of the bracket group opening at code[i]."""
    depth = 0
    while i < len(code):
        c = code[i]
        if c == '"':
            i = skip_string(code, i)
            continue
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return len(code)


def top_level(text):
    """Split `text` at depth-0 commas; yield (offset, piece)."""
    depth, start, i = 0, 0, 0
    while i < len(text):
        c = text[i]
        if c == '"':
            i = skip_string(text, i)
            continue
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "," and depth == 0:
            yield start, text[start:i]
            start = i + 1
        i += 1
    yield start, text[start:]


def has_default(param):
    """True when `param` holds a depth-0 `=` that is not part of an operator."""
    depth = 0
    for i, c in enumerate(param):
        if c in OPEN:
            depth += 1
        elif c in CLOSE:
            depth -= 1
        elif c == "=" and depth == 0:
            before = param[i - 1] if i else ""
            after = param[i + 1] if i + 1 < len(param) else ""
            if after not in "=>" and before not in "=<>!":
                return True
    return False


def param_name(param):
    words = param.split(":", 1)[0].split()
    words = [w for w in words if w not in ("implicit", "using", "val", "var")
             and not w.startswith("@")]
    m = NAME.match(words[-1]) if words else None
    return m.group(0) if m else param.strip()


def knobs(code):
    """Yield (offset, def name, param name) for each defaulted parameter."""
    for m in DEF.finditer(code):
        prefix = code[code.rfind("\n", 0, m.start()) + 1:m.start()]
        if re.search(r"\bprivate\b", prefix):
            continue
        i = m.end()
        while i < len(code) and code[i].isspace():
            i += 1
        if i < len(code) and code[i] == "[":
            i = balanced(code, i)
        while True:
            while i < len(code) and code[i].isspace():
                i += 1
            if i >= len(code) or code[i] != "(":
                break
            end = balanced(code, i)
            for off, piece in top_level(code[i + 1:end - 1]):
                if piece.strip() and has_default(piece):
                    lead = len(piece) - len(piece.lstrip())
                    yield i + 1 + off + lead, m.group(1), param_name(piece)
            i = end


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--rev", help="git revision to read (default: working tree)")
    ap.add_argument("paths", nargs="*", default=["src/main/scala"])
    args = ap.parse_args()
    total = 0
    for p in args.paths:
        for f in files_at(args.rev, p):
            code = strip_comments(read_at(args.rev, f))
            for off, name, param in knobs(code):
                total += 1
                print(f"{f}:{code.count(chr(10), 0, off) + 1}  {name}  {param}")
    print(f"{total} defaulted parameters on non-private defs in "
          f"{' '.join(args.paths)}")


if __name__ == "__main__":
    sys.exit(main())
