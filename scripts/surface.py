#!/usr/bin/env python3
"""Code-surface census of the main sources.

    python3 scripts/surface.py [repo_root]

Prints
  * the main-source LoC: every line of every .scala file under
    src/main/scala (the figure ROADMAP.md tracks);
  * the number of public `def`s in graft.engine, graft.streaming and
    graft.core;
  * every such public def that has no reference in src/main/scala or
    perfbench/src outside its own definition and comments;
  * the option census: the defaulted parameters of the public defs in
    graft.engine and graft.streaming, those that only callers in
    src/test/scala set, and those that no caller in src/main/scala,
    perfbench/src or src/test/scala sets.

    python3 scripts/surface.py --check [repo_root]

exits 1 when some defaulted parameter is set by no caller.

A def is public when it is a member of an object, class or trait body (not
a local def inside a method or an anonymous class), neither it nor an
enclosing type is private or protected, and it is not an `override`.

A reference is the def's name as an identifier in comment-free code:
  * anywhere in the def's own file;
  * for an object member, in another file as `Owner.name`, or bare in a
    file that imports the owner's members (`Owner._` or `Owner.{...}`);
  * for a class or trait member, anywhere (instance calls carry no owner).
Names are matched textually, so a namesake can hide an unused def: the
list is a lower bound on what has no caller.

A call sets a defaulted parameter when it passes it by name (`p = ...`) or
by position, in the same argument list; calls are found by the reference
rules above followed by `(`. An argument that is just a parameter of the
def the call sits in (`level = level`, also through private helpers) sets
the callee's parameter only where that parameter is itself set by some
caller; a required parameter of a public def always is.
"""
import re
import sys
from pathlib import Path

PACKAGES = ("engine", "streaming", "core")
IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
CHAR = re.compile(r"'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def lex(src):
    """(code, bare): `src` with comments blanked, and additionally with the
    contents of string and char literals blanked. Both keep every newline,
    so offsets and line numbers match `src`."""
    code, bare = list(src), list(src)
    i, n = 0, len(src)

    def blank(buf, a, b):
        for k in range(a, b):
            if buf[k] != "\n":
                buf[k] = " "

    while i < n:
        c = src[i]
        if src.startswith("//", i):
            j = src.find("\n", i)
            j = n if j < 0 else j
            blank(code, i, j); blank(bare, i, j)
            i = j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif src.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            blank(code, i, j); blank(bare, i, j)
            i = j
        elif src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':
                j += 1
            blank(bare, i + 3, j - 3)
            i = j
        elif c == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            blank(bare, i + 1, j)
            i = j + 1
        elif c == "'" and CHAR.match(src, i):
            j = CHAR.match(src, i).end()
            blank(bare, i + 1, j - 1)
            i = j
        else:
            i += 1
    return "".join(code), "".join(bare)


HEADER_KW = re.compile(r"\b(object|class|trait|def|val|var|new)\b")
TYPE_HEAD = re.compile(r"\b(object|class|trait)\s+(" + IDENT + ")")
HIDDEN = re.compile(r"\b(private|protected)\b")
DEF = re.compile(r"\bdef\s+(" + IDENT + ")")
IMPORT = re.compile(r"\bimport\s+(?:\w+\s*\.\s*)*(\w+)\s*\.\s*[_{]")


def imported(code):
    """The names whose members `code` imports (`import a.Owner._` or
    `import a.Owner.{...}`)."""
    return {m.group(1) for m in IMPORT.finditer(code)}


def public_defs(path, bare):
    """[(owner, owner_is_object, name, line, offset)] of the public defs in
    `bare`."""
    out = []
    # stack of scopes: (kind, owner, is_object, hidden); kind 'type' for an
    # object/class/trait body, 'other' for any other brace
    stack = []
    seg_start = 0
    for m in re.finditer(r"[{}]|\bdef\s+" + IDENT, bare):
        tok = m.group(0)
        seg = bare[seg_start:m.start()]
        if tok == "{":
            kws = HEADER_KW.findall(seg)
            head = ([None] + list(TYPE_HEAD.finditer(seg)))[-1]
            if kws and kws[-1] in ("object", "class", "trait") and head:
                pre = seg[:head.start()].rsplit("\n", 1)[-1]
                stack.append(("type", head.group(2), head.group(1) == "object",
                              bool(HIDDEN.search(pre))))
            else:
                stack.append(("other", None, False, False))
            seg_start = m.end()
        elif tok == "}":
            if stack:
                stack.pop()
            seg_start = m.end()
        else:
            if not stack or any(k != "type" or h for k, _, _, h in stack):
                continue
            line_start = bare.rfind("\n", 0, m.start()) + 1
            pre = bare[line_start:m.start()]
            if HIDDEN.search(pre) or re.search(r"\boverride\b", pre):
                continue
            _, owner, is_obj, _ = stack[-1]
            name = DEF.match(tok).group(1)
            out.append((owner, is_obj, name, bare.count("\n", 0, m.start()) + 1, m.start()))
    return out


def groups(bare, i, newline=True):
    """[(start, end)] of the `(...)` lists that follow offset `i` (after an
    optional `[...]` type list), `start`/`end` just inside the brackets.
    With newline=False the first list must open on the same line."""
    out, n = [], len(bare)
    ws = re.compile(r"\s*")
    gap = ws if newline else re.compile(r"[ \t]*")
    i = gap.match(bare, i).end()
    if i < n and bare[i] == "[":
        i = close(bare, i) + 1
    while True:
        i = (ws if out else gap).match(bare, i).end()
        if i >= n or bare[i] != "(":
            return out
        j = close(bare, i)
        out.append((i + 1, j))
        i = j + 1


def close(bare, i):
    """Offset of the bracket that closes the one at `i`."""
    depth = 0
    for j in range(i, len(bare)):
        if bare[j] in "([{":
            depth += 1
        elif bare[j] in ")]}":
            depth -= 1
            if not depth:
                return j
    return len(bare)


def split_top(text):
    """The top-level comma-separated pieces of `text`, stripped."""
    parts, depth, start = [], 0, 0
    for k, c in enumerate(text):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and not depth:
            parts.append(text[start:k])
            start = k + 1
    parts.append(text[start:])
    return [q.strip() for q in parts] if text.strip() else []


ASSIGN = re.compile(r"(?<![=!<>])=(?![=>])")
NAMED = re.compile(r"(" + IDENT + r")\s*=(?![=>])")


def params(bare, off):
    """[[(name, defaulted)]] of the def at `off`, one list per parameter list."""
    out = []
    for a, b in groups(bare, DEF.match(bare, off).end()):
        ps = []
        for piece in split_top(bare[a:b]):
            piece = re.sub(r"^(implicit\s+)?((val|var)\s+)?", "", piece)
            top = piece
            for br in re.finditer(r"\([^()]*\)|\[[^\[\]]*\]", piece):
                top = top.replace(br.group(0), " " * len(br.group(0)))
            ps.append((re.match(IDENT, piece).group(0), bool(ASSIGN.search(top))))
        out.append(ps)
    return out


def extent(bare, off):
    """End offset of the def at `off`: the start of the first later line,
    past its signature line, indented no deeper than the def."""
    line_start = bare.rfind("\n", 0, off) + 1
    indent = len(re.match(r"[ \t]*", bare[line_start:]).group(0))
    for m in re.finditer(r"\n([ \t]*)(\S)", bare[off:]):
        if len(m.group(1)) <= indent and m.group(2) not in "})":
            return off + m.start() + 1
    return len(bare)


def option_census(defs, files):
    """[(rel, line, qual, set_by)] of every defaulted parameter of `defs`;
    set_by is 'main' (a caller in src/main or perfbench/src), 'test' (only
    callers in src/test) or None (no caller sets it).

    Calls to `defs` are found everywhere by the reference rules; calls to
    every other def only in its own file. A parameter of a def that is not
    in `defs` counts as set when no call to it is found, and a required
    parameter of a def in `defs` always counts as set."""
    bare = {p: lex(p.read_text(encoding="utf-8"))[1] for p in files}
    public = {(p, off): (owner, is_obj, name) for p, _, owner, is_obj, name, _, off in defs}
    every = {(p, m.start()): m.group(1) for p, c in bare.items() for m in DEF.finditer(c)}
    sig = {key: params(bare[key[0]], key[1]) for key in every}
    spans = {p: [(off, extent(c, off)) for off in (m.start() for m in DEF.finditer(c))]
             for p, c in bare.items()}
    # every def name blanked, so a definition is never its own call
    undef = {p: DEF.sub(lambda m: "def " + " " * (len(m.group(0)) - 4), c) for p, c in bare.items()}
    imports = {p: imported(c) for p, c in undef.items()}

    def calls(key):
        p, _ = key
        name = every[key]
        own = re.compile(r"(?<![A-Za-z0-9_.])" + re.escape(name) + r"(?![A-Za-z0-9_])")
        if key not in public:
            return [(p, h) for h in own.finditer(undef[p])]
        owner, is_obj, _ = public[key]
        qual = re.compile(r"\b" + re.escape(owner) + r"\s*\.\s*" + re.escape(name) + r"\b")
        member = re.compile(r"\.\s*" + re.escape(name) + r"\b")
        out = []
        for f, c in undef.items():
            pats = [member, own] if not is_obj else \
                [qual, own] if f == p or owner in imports[f] else [qual]
            out += [(f, h) for pat in pats for h in pat.finditer(c)]
        return out

    # (def, parameter) -> origins: 'main', 'test', or the (def, parameter)
    # of the enclosing def that the argument forwards
    origins = {}
    for key in every:
        names = [[n for n, _ in g] for g in sig[key]]
        found = calls(key)
        for g, ps in enumerate(sig[key]):
            for n, d in ps:
                if (key in public and not d) or (key not in public and not found):
                    origins.setdefault((key, n), set()).add("main")
        for f, h in found:
            where = "test" if "src/test" in f.as_posix() else "main"
            encl = (f, max((a for a, b in spans[f] if a < h.start() < b), default=None))
            encl_params = {n for g in sig.get(encl, []) for n, _ in g}
            for g, (a, b) in enumerate(groups(undef[f], h.end(), newline=False)):
                if g >= len(names):
                    break
                for k, arg in enumerate(split_top(undef[f][a:b])):
                    m = NAMED.match(arg)
                    if m and m.group(1) in names[g]:
                        target, expr = m.group(1), arg[m.end():].strip()
                    elif k < len(names[g]):
                        target, expr = names[g][k], arg
                    else:
                        continue
                    origin = (encl, expr) if expr in encl_params else where
                    origins.setdefault((key, target), set()).add(origin)
    rank = {None: 0, "test": 1, "main": 2}
    set_by = {}
    changed = True
    while changed:
        changed = False
        for param, srcs in origins.items():
            best = max((o if o in rank else set_by.get(o) for o in srcs), key=rank.get)
            if rank[best] > rank[set_by.get(param)]:
                set_by[param] = best
                changed = True
    return [(rel, line, f"{owner}.{name}({n})", set_by.get(((p, off), n)))
            for p, rel, owner, _, name, line, off in defs
            for g in sig[(p, off)] for n, d in g if d]


def main():
    args = sys.argv[1:]
    check = "--check" in args
    args = [a for a in args if a != "--check"]
    root = Path(args[0] if args else Path(__file__).resolve().parent.parent)
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    bench_files = sorted((root / "perfbench/src").rglob("*.scala"))
    test_files = sorted((root / "src/test/scala").rglob("*.scala"))
    loc = sum(p.read_text(encoding="utf-8").count("\n") for p in main_files)
    code = {p: lex(p.read_text(encoding="utf-8"))[0] for p in main_files + bench_files}

    defs = []
    for p in main_files:
        rel = p.relative_to(root / "src/main/scala/graft")
        if rel.parts[0] in PACKAGES:
            bare = lex(p.read_text(encoding="utf-8"))[1]
            defs += [(p, rel, *d) for d in public_defs(p, bare)]

    # every file's code with its own def names removed, so a definition is
    # never its own reference
    undef = {p: re.sub(r"\bdef\s+" + IDENT, "def _", c) for p, c in code.items()}
    imports = {p: imported(c) for p, c in undef.items()}

    def referenced(path, owner, is_obj, name):
        bare_name = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")
        for p, c in undef.items():
            if p == path or not is_obj:
                if bare_name.search(c):
                    return True
            elif re.search(r"\b" + re.escape(owner) + r"\s*\.\s*" + re.escape(name) + r"\b", c):
                return True
            elif owner in imports[p] and bare_name.search(c):
                return True
        return False

    unused = [(rel, line, f"{owner}.{name}") for p, rel, owner, is_obj, name, line, _ in defs
              if not referenced(p, owner, is_obj, name)]
    print(f"main-source LoC: {loc:,} ({len(main_files)} files under src/main/scala)")
    for pkg in PACKAGES:
        n = sum(1 for _, rel, *_ in defs if rel.parts[0] == pkg)
        print(f"public defs in graft.{pkg}: {n}")
    print(f"public defs with no reference outside their definition: {len(unused)}")
    for rel, line, qual in unused:
        print(f"  {rel}:{line}  {qual}")

    opts = option_census([d for d in defs if d[1].parts[0] in ("engine", "streaming")],
                         main_files + bench_files + test_files)
    unset = [o for o in opts if o[3] is None]
    tests = [o for o in opts if o[3] == "test"]
    print(f"defaulted parameters on public engine/streaming defs: {len(opts)}")
    print(f"  set only by tests: {len(tests)}")
    for rel, line, qual, _ in tests:
        print(f"    {rel}:{line}  {qual}")
    print(f"  set by no caller: {len(unset)}")
    for rel, line, qual, _ in unset:
        print(f"    {rel}:{line}  {qual}")
    if check and unset:
        sys.exit(1)


if __name__ == "__main__":
    main()
