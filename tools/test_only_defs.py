#!/usr/bin/env python3
"""List the src/main defs that only the specs call, then the src/main files
that no entry point reaches.

A def counts when some src/test file names it but no src/main file other
than its own and no perfbench/src file does. Comments are stripped before
matching; names are matched as whole identifiers, so a def that shares its
name with an unrelated method (`run`) is judged by every use of the name.
Three rules keep a bare-identifier match from standing in for a call: an
unqualified `private def` is skipped (no spec can call it), so is a def
declared inside another def's body (a local def, told apart by brace
nesting on the comment- and string-stripped text; a spec calling the
collections' `.find` is not a call of a local `find`), and a spec's names
exclude the ones that spec declares itself with `val`, `var` or `def` (its
local `rows` is not a call of a src/main `rows`). Defs of an object nested
in an object stay listed.

The def list misses a module whose only caller is itself unreached, so a
second section walks whole files. The roots are the files with a `def main`
or `extends App` and the files whose top-level object/class/trait name
perfbench/src uses; a file is reached when a reached file names one of its
top-level names, iterated to a fixpoint. Every unreached file is listed.

This is a report for deciding what code has no product caller, not a
gate: it always exits 0.

Usage:
    python3 tools/test_only_defs.py [repo root]   # default: current directory
"""
import os
import re
import sys

COMMENT = re.compile(r'"""(?:.|\n)*?"""|"(?:\\.|[^"\\\n])*"|//[^\n]*|/\*(?:.|\n)*?\*/')
SCOPE = re.compile(r"[{}]|\b(def|val|var|object|class|trait|type)\b")
DEF = re.compile(r"((?:\b(?:private|protected|final|override|implicit|inline)(?:\[\w+\])?\s+)*)"
                 r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
PRIVATE = re.compile(r"\bprivate\s")
DECL = re.compile(r"\b(?:val|var|def)\s+([A-Za-z_][A-Za-z0-9_]*)")
IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
TOP = re.compile(r"^(?:(?:(?:private|protected)(?:\[\w+\])?|final|sealed|abstract|case|implicit)\s+)*"
                 r"(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)", re.M)
ROOT = re.compile(r"\bdef\s+main\s*\(|\bextends\s+App\b")


def sources(root):
    """{path: comment-stripped text} for every .scala file under root."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as h:
                    out[os.path.join(d, f)] = COMMENT.sub(
                        lambda m: "" if m.group(0)[0] == "/" else m.group(0), h.read())
    return out


def callable_defs(text):
    """Names of the non-private defs in `text` that no other def's body holds.

    A `{` opened at a depth whose latest declaration is a `def` starts a def
    body (braced body, or a block inside a braceless one); a def is local
    when any enclosing brace is such a body. String literals are blanked
    first so their braces do not count."""
    blank = COMMENT.sub(lambda m: " " * len(m.group(0)), text)
    local = set()
    frames, latest = [], {}
    for m in SCOPE.finditer(blank):
        tok, depth = m.group(0), len(frames)
        if tok == "{":
            frames.append(latest.get(depth) == "def")
        elif tok == "}":
            if frames:
                frames.pop()
            latest.pop(depth, None)
        else:
            if tok == "def" and any(frames):
                local.add(m.start())
            latest[depth] = tok
    return {m.group(2) for m in DEF.finditer(blank)
            if not PRIVATE.search(m.group(1))
            and m.start() + len(m.group(1)) not in local}


def main(argv):
    repo = argv[0] if argv else "."
    main_src = sources(os.path.join(repo, "src", "main"))
    names = {p: set(IDENT.findall(t)) for p, t in main_src.items()}
    tested = set().union(*(set(IDENT.findall(t)) - set(DECL.findall(t)) for t in
                           sources(os.path.join(repo, "src", "test")).values()))
    bench = set().union(*(IDENT.findall(t) for t in
                          sources(os.path.join(repo, "perfbench", "src")).values()))
    hits = sorted((os.path.relpath(p, repo), d)
                  for p, t in main_src.items()
                  for d in callable_defs(t)
                  if d in tested and d not in bench
                  and not any(d in ns for q, ns in names.items() if q != p))
    for path, d in hits:
        print(f"{path}: {d}")
    print(f"{len(hits)} test-only defs")

    tops = {p: set(TOP.findall(t)) for p, t in main_src.items()}
    reached = {p for p, t in main_src.items() if ROOT.search(t) or tops[p] & bench}
    frontier = set(reached)
    while frontier:
        used = set().union(*(names[p] for p in frontier))
        frontier = {p for p in main_src if p not in reached and tops[p] & used}
        reached |= frontier
    unreached = sorted(os.path.relpath(p, repo) for p in main_src if p not in reached)
    for path in unreached:
        print(path)
    print(f"{len(unreached)} src/main files no entry point reaches")


if __name__ == "__main__":
    main(sys.argv[1:])
