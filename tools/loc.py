#!/usr/bin/env python3
"""Count code, comment and blank lines per Scala file under src/main.

A line holding any code is a code line, even with a trailing comment; a
line holding only `//` or `/* ... */` comment text (scaladoc included) is a
comment line; a whitespace-only line is blank. String literals, triple-quoted
ones included, are skipped when looking for comment markers.

Usage:
    python3 tools/loc.py [root]          # default root: src/main
    python3 tools/loc.py --total [root]  # the totals line only
"""
import os
import sys


def classify(text):
    """Yield 'code', 'comment' or 'blank' for each line of a Scala source."""
    in_block = 0          # nesting depth of /* */ (Scala block comments nest)
    in_triple = False     # inside a """ string spanning lines
    for line in text.split("\n"):
        code = comment = False
        i, n = 0, len(line)
        while i < n:
            if in_block:
                if line.startswith("*/", i):
                    in_block -= 1
                    i += 2
                elif line.startswith("/*", i):
                    in_block += 1
                    i += 2
                else:
                    if not line[i].isspace():
                        comment = True
                    i += 1
                continue
            if in_triple:
                code = True
                end = line.find('"""', i)
                if end < 0:
                    break
                in_triple = False
                i = end + 3
                continue
            if line.startswith("//", i):
                comment = True
                break
            if line.startswith("/*", i):
                in_block += 1
                comment = True
                i += 2
                continue
            c = line[i]
            if line.startswith('"""', i):
                code = True
                in_triple = True
                i += 3
                continue
            if c == '"':
                code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
                continue
            if c == "'" and i + 2 < n and (line[i + 2] == "'" or line[i + 1] == "\\"):
                code = True  # char literal: skip so '"' does not open a string
                i = line.find("'", i + 2) + 1 if line[i + 1] == "\\" else i + 3
                continue
            if not c.isspace():
                code = True
            i += 1
        if code:
            yield "code"
        elif comment:
            yield "comment"
        elif in_triple:
            yield "code"
        else:
            yield "blank"


def count(path):
    with open(path, encoding="utf-8") as f:
        kinds = list(classify(f.read().rstrip("\n")))
    return {k: kinds.count(k) for k in ("code", "comment", "blank")}


def main(argv):
    total_only = "--total" in argv
    args = [a for a in argv if a != "--total"]
    root = args[0] if args else "src/main"
    files = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".scala"))
    totals = {"code": 0, "comment": 0, "blank": 0}
    rows = []
    for path in files:
        c = count(path)
        for k in totals:
            totals[k] += c[k]
        rows.append((path, c))
    if not total_only:
        print(f"{'code':>7} {'comment':>7} {'blank':>7}  file")
        for path, c in rows:
            print(f"{c['code']:>7} {c['comment']:>7} {c['blank']:>7}  {path}")
    print(f"{totals['code']:>7} {totals['comment']:>7} {totals['blank']:>7}  "
          f"total ({len(files)} files)")


if __name__ == "__main__":
    main(sys.argv[1:])
