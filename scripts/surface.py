#!/usr/bin/env python3
"""Code-surface census of the main sources.

    python3 scripts/surface.py [repo_root]

Prints
  * the main-source LoC: every line of every .scala file under
    src/main/scala (the figure ROADMAP.md tracks);
  * the number of public `def`s in graft.engine, graft.streaming and
    graft.core;
  * every such public def that has no reference in src/main/scala or
    perfbench/src outside its own definition and comments.

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


def public_defs(path, bare):
    """[(owner, owner_is_object, name, line)] of the public defs in `bare`."""
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
            head = TYPE_HEAD.search(seg)
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
            out.append((owner, is_obj, name, bare.count("\n", 0, m.start()) + 1))
    return out


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else Path(__file__).resolve().parent.parent)
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    bench_files = sorted((root / "perfbench/src").rglob("*.scala"))
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

    def referenced(path, owner, is_obj, name):
        bare_name = re.compile(r"(?<![A-Za-z0-9_])" + re.escape(name) + r"(?![A-Za-z0-9_])")
        for p, c in undef.items():
            if p == path or not is_obj:
                if bare_name.search(c):
                    return True
            elif re.search(r"\b" + re.escape(owner) + r"\s*\.\s*" + re.escape(name) + r"\b", c):
                return True
            elif re.search(r"\bimport\s+[\w.]*\b" + re.escape(owner) + r"\s*\.\s*(_|\{)", c) \
                    and bare_name.search(c):
                return True
        return False

    unused = [(rel, line, f"{owner}.{name}") for p, rel, owner, is_obj, name, line in defs
              if not referenced(p, owner, is_obj, name)]
    print(f"main-source LoC: {loc:,} ({len(main_files)} files under src/main/scala)")
    for pkg in PACKAGES:
        n = sum(1 for _, rel, *_ in defs if rel.parts[0] == pkg)
        print(f"public defs in graft.{pkg}: {n}")
    print(f"public defs with no reference outside their definition: {len(unused)}")
    for rel, line, qual in unused:
        print(f"  {rel}:{line}  {qual}")


if __name__ == "__main__":
    main()
