#!/usr/bin/env python3
"""Count the code lines of the Scala sources under a directory.

A code line is a line that is not blank, not a `//` line comment and not
inside a `/* ... */` block comment (scaladoc included). A line that holds
code next to a comment counts as code.

    python3 tools/code_lines.py              # src/main, total only
    python3 tools/code_lines.py --per-file   # plus one line per file
    python3 tools/code_lines.py src/test     # another tree
"""
import argparse
import pathlib
import sys


def code_lines(text):
    n = 0
    in_block = False
    for line in text.splitlines():
        s = line.strip()
        code = False
        while s:
            if in_block:
                end = s.find("*/")
                if end < 0:
                    s = ""
                else:
                    in_block = False
                    s = s[end + 2:].strip()
            elif s.startswith("//"):
                s = ""
            elif s.startswith("/*"):
                in_block = True
                s = s[2:]
            else:
                code = True
                s = ""
        n += code
    return n


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("root", nargs="?", default="src/main")
    ap.add_argument("--per-file", action="store_true")
    args = ap.parse_args()
    files = sorted(pathlib.Path(args.root).rglob("*.scala"))
    if not files:
        sys.exit(f"no .scala files under {args.root}")
    total = 0
    for f in files:
        n = code_lines(f.read_text(encoding="utf-8"))
        total += n
        if args.per_file:
            print(f"{n:7d} {f}")
    print(total)


if __name__ == "__main__":
    main()
