#!/usr/bin/env python3
"""List the src/main defs that only the specs call, then the src/main files
that no entry point reaches, then the defaulted operator parameters that no
product caller passes.

A def counts when some src/test file names it and no product code reaches
it. Reach is a fixpoint at def grain across files. The roots are the `main`
defs, the names perfbench/src uses, and the names used at the top level of
a reached file (outside every def body, import lines aside: an object-level
`val`, a class's constructor). A name used inside a reached def's body
reaches the defs of that name in other files and, in its own file, every
def of that name but the one it occurs in; the reached def's body is then
walked in turn. `override` defs are roots too (a framework calls them),
and naming a file's top-level object or class reaches that file's `apply`.
So `Tables.parallel` counts as reached through the `*Par` loaders the
queries call, and a def that only test-only defs call is test-only too.
Comments are stripped before matching. The def-level walk blanks string
literals too (a column named "jaccard" is not a call of `jaccard`); the
file walk and the spec names keep them (generated code can name a class
in a string). Names are matched as whole identifiers, so a def that
shares its name with an unrelated method (`run`) is judged by every use
of the name. Three rules keep a
bare-identifier match from standing in for a call: an unqualified
`private def` is not listed (no spec can call it) and is reached only from
its own file, nor is a def declared inside another def's body (a local
def, told apart by brace nesting on the comment- and string-stripped text;
a spec calling the collections' `.find` is not a call of a local `find`),
and a spec's names exclude the ones that spec declares itself with `val`,
`var` or `def` (its local `rows` is not a call of a src/main `rows`). Defs
of an object nested in an object stay listed.

The def list misses a module whose only caller is itself unreached, so a
second section walks whole files. The roots are the files with a `def main`
or `extends App` and the files whose top-level object/class/trait name
perfbench/src uses; a file is reached when a reached file names one of its
top-level names, iterated to a fixpoint. Every unreached file is listed.

The third section lists each defaulted parameter of a graft/operators or
graft/functions def that no product call passes, by position or by name.
Product calls are the ones in src/main and perfbench/src; the specs do not
count. A call names the def unqualified or through an object of the def's
file. A call that passes a defaulted parameter of its own enclosing def on
unchanged (`idCol` into `idCol`) passes a value only when that enclosing
parameter is itself passed (a required one counts as passed when a call
gives it a value that is not such a forward), iterated to a fixpoint.

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
OBJECT = re.compile(r"\bobject\s+([A-Za-z_][A-Za-z0-9_]*)")
ROOT = re.compile(r"\bdef\s+main\s*\(|\bextends\s+App\b")
NAMED = re.compile(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=>])")
PARAM = re.compile(r"\s*(?:implicit\s+)?(?:val\s+)?([A-Za-z_][A-Za-z0-9_]*)\s*:")
OPERATOR_DIRS = (os.path.join("graft", "operators"), os.path.join("graft", "functions"))


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


class Def:
    def __init__(self, name, start, header, mods, local):
        self.name, self.start, self.header = name, start, header
        self.private, self.override = bool(PRIVATE.search(mods)), "override" in mods
        self.local, self.end = local, None


def defs_of(blank):
    """Every def in `blank` (comment- and string-blanked text), with its span.

    A `{` opened at a depth whose latest declaration is a `def` starts a def
    body (braced body, or a block inside a braceless one); a def is local
    when any enclosing brace is such a body. A def's span ends at the next
    declaration of its own depth or at the brace that closes that depth."""
    heads = {m.start(0) + len(m.group(1)): m for m in DEF.finditer(blank)}
    out, frames, latest, open_ = [], [], {}, {}
    for m in SCOPE.finditer(blank):
        tok, depth = m.group(0), len(frames)
        if tok == "{":
            frames.append(latest.get(depth) == "def")
            continue
        if depth in open_:
            open_.pop(depth).end = m.start()
        if tok == "}":
            if frames:
                frames.pop()
            latest.pop(depth, None)
            continue
        if tok == "def" and m.start() in heads:
            h = heads[m.start()]
            d = Def(h.group(2), m.start(), h.end(), h.group(1), any(frames))
            out.append(d)
            open_[depth] = d
        latest[depth] = tok
    for d in open_.values():
        d.end = len(blank)
    return out


def blanked(text):
    return COMMENT.sub(lambda m: " " * len(m.group(0)), text)


def groups(blank, i):
    """The consecutive bracket groups `[..]` / `(..)` starting at i, as
    (opener, [top-level comma-split parts]) pairs."""
    out = []
    while True:
        j = i
        while j < len(blank) and blank[j] in " \t\n":
            j += 1
        if j >= len(blank) or blank[j] not in "([":
            return out
        depth, parts, cur = 0, [], j + 1
        for k in range(j, len(blank)):
            c = blank[k]
            if c in "([{":
                depth += 1
            elif c in ")]}":
                depth -= 1
                if depth == 0:
                    parts.append(blank[cur:k])
                    break
            elif c == "," and depth == 1:
                parts.append(blank[cur:k])
                cur = k + 1
        else:
            return out
        out.append((blank[j], [p for p in parts if p.strip()]))
        i = k + 1


def enclosing(defs, pos):
    """The innermost def whose span holds pos, or None."""
    best = None
    for d in defs:
        if d.start <= pos < d.end and (best is None or d.start > best.start):
            best = d
    return best


def unpassed_defaults(repo, main_src, bench_src):
    """[(path, def, param)] for each defaulted operator parameter no product
    call passes."""
    blanks = {p: blanked(t) for p, t in list(main_src.items()) + list(bench_src.items())}
    defs = {p: defs_of(b) for p, b in blanks.items()}
    objects = {p: set(OBJECT.findall(b)) for p, b in blanks.items()}
    params = {}   # (path, def start) -> [(list index, position, name, defaulted)]
    by_name = {}  # def name -> [(path, def)]
    for p in main_src:
        if not any(s in p for s in OPERATOR_DIRS):
            continue
        for d in defs[p]:
            lists = [g for o, g in groups(blanks[p], d.header) if o == "("]
            ps = [(i, j, PARAM.match(a).group(1), "=" in re.sub(r"=>|==|!=|<=|>=", "", a))
                  for i, g in enumerate(lists) for j, a in enumerate(g) if PARAM.match(a)]
            if ps:
                params[(p, d.start)] = ps
                by_name.setdefault(d.name, []).append((p, d))
    passed, forwards = set(), []
    for q, b in blanks.items():
        for m in re.finditer(r"(?:\b([A-Za-z_][A-Za-z0-9_]*)\s*\.\s*)?\b([A-Za-z_][A-Za-z0-9_]*)(?=\s*[(\[])", b):
            if m.group(2) not in by_name or re.search(r"\bdef\s+$", b[:m.start(2)][-12:]):
                continue
            lists = [g for o, g in groups(b, m.end()) if o == "("]
            outer = enclosing(defs[q], m.start())
            outer_params = {x[2] for x in params.get((q, outer.start), [])} if outer else set()
            for p, d in by_name[m.group(2)]:
                if m.group(1) and m.group(1) not in objects[p]:
                    continue
                for i, j, name, _ in params[(p, d.start)]:
                    if i >= len(lists):
                        continue
                    args = lists[i]
                    named = {}
                    positional = len(args)
                    for k, a in enumerate(args):
                        n = NAMED.match(a)
                        if n:
                            positional = min(positional, k)
                            named[n.group(1)] = a[n.end():]
                    if j < positional:
                        arg = args[j]
                    elif name in named:
                        arg = named[name]
                    else:
                        continue
                    key = (p, d.start, name)
                    if arg.strip() in outer_params:
                        forwards.append(((q, outer.start, arg.strip()), key))
                    else:
                        passed.add(key)
    grew = True
    while grew:
        grew = False
        for src, dst in forwards:
            if src in passed and dst not in passed:
                passed.add(dst)
                grew = True
    return sorted((os.path.relpath(p, repo), d.name, name)
                  for ds in by_name.values() for p, d in ds
                  for _, _, name, defaulted in params[(p, d.start)]
                  if defaulted and (p, d.start, name) not in passed)


def reached_defs(live_src, bench):
    """{(path, name)} for the defs product code reaches in the reached files
    `live_src` (see the module doc)."""
    blanks = {p: blanked(t) for p, t in live_src.items()}
    spans = {p: [d for d in defs_of(b) if not d.local] for p, b in blanks.items()}
    by_name, applies = {}, {}
    for p, ds in spans.items():
        for d in ds:
            by_name.setdefault(d.name, []).append((p, d))
        if any(d.name == "apply" for d in ds):
            for n in TOP.findall(blanks[p]):
                applies.setdefault(n, []).append(p)
    reached, work = set(), []

    def reach(p, n):
        if (p, n) not in reached:
            reached.add((p, n))
            work.append((p, n))

    def occur(q, n, owner):
        """Name `n` occurs in file `q`, inside def `owner` (None: top level)."""
        for p, d in by_name.get(n, ()):
            if (p == q and n != owner) or (p != q and not d.private):
                reach(p, n)
        for p in applies.get(n, ()):
            reach(p, "apply")

    for n in bench | {"main"}:
        occur(None, n, None)
    for q, b in blanks.items():
        top = list(b)
        for d in spans[q]:
            top[d.start:d.end] = " " * (d.end - d.start)
            if d.override:
                reach(q, d.name)
        for n in IDENT.findall(re.sub(r"(?m)^\s*import\b.*$", "", "".join(top))):
            occur(q, n, None)
    while work:
        p, n = work.pop()
        for d in spans[p]:
            if d.name == n:
                for m in IDENT.findall(blanks[p][d.header:d.end]):
                    occur(p, m, n)
    return reached


def main(argv):
    repo = argv[0] if argv else "."
    main_src = sources(os.path.join(repo, "src", "main"))
    bench_src = sources(os.path.join(repo, "perfbench", "src"))
    names = {p: set(IDENT.findall(t)) for p, t in main_src.items()}
    tested = set().union(*(set(IDENT.findall(t)) - set(DECL.findall(t)) for t in
                           sources(os.path.join(repo, "src", "test")).values()))
    bench = set().union(*(IDENT.findall(t) for t in bench_src.values()))

    tops = {p: set(TOP.findall(t)) for p, t in main_src.items()}
    files = {p for p, t in main_src.items() if ROOT.search(t) or tops[p] & bench}
    frontier = set(files)
    while frontier:
        used = set().union(*(names[p] for p in frontier))
        frontier = {p for p in main_src if p not in files and tops[p] & used}
        files |= frontier

    reached = reached_defs({p: t for p, t in main_src.items() if p in files}, bench)
    hits = sorted({(os.path.relpath(p, repo), d.name)
                   for p, t in main_src.items()
                   for d in defs_of(blanked(t))
                   if not d.private and not d.local
                   and d.name in tested and (p, d.name) not in reached})
    for path, d in hits:
        print(f"{path}: {d}")
    print(f"{len(hits)} test-only defs")

    unreached = sorted(os.path.relpath(p, repo) for p in main_src if p not in files)
    for path in unreached:
        print(path)
    print(f"{len(unreached)} src/main files no entry point reaches")

    unpassed = unpassed_defaults(repo, main_src, bench_src)
    for path, d, name in unpassed:
        print(f"{path}: {d}.{name}")
    print(f"{len(unpassed)} defaulted operator parameters no product call passes")


if __name__ == "__main__":
    main(sys.argv[1:])
