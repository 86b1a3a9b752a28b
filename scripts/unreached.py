#!/usr/bin/env python3
"""List src/main definitions that no program code reaches.

A definition is a `def`, `val`, `var`, `class`, `trait` or `object` at
file or member level (indented at most two spaces) that is neither
`private`/`protected` nor an `override`.  It is listed when its name
appears, as a whole word, on no code line of any other file under
src/main or perfbench/src, nor on any code line of its own file but
the definitions of that name (a name used only inside its own file is
reached, if by nothing else).  Code lines follow loc.py's rule: blank
lines and lines starting with `//`, `/**` or `*` do not count.

Where a class and its companion object share a name, `Name.` is a use
of the object, and any other use outside an import line is a use of
the class.  An object with a `def main` is an entry point and never
listed.

Each entry prints as `<file>:<line>  <kind> <name>  tests=<n>`, where
n counts the name's uses on src/test code lines: an entry is a
candidate for deletion (tests=0) or for moving into the specs that
alone use it.

Usage: python3 scripts/unreached.py [repo root, default: .]
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from loc import COMMENT

DEF = re.compile(r"^( {0,2})((?:(?:final|implicit|lazy|case|sealed|abstract)\s+)*)"
                 r"(def|val|var|class|trait|object)\s+([A-Za-z_][A-Za-z0-9_]*)")


def scala_files(root, sub):
    out = []
    for d, _, fs in os.walk(os.path.join(root, sub)):
        out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def code_lines(path):
    with open(path, encoding="utf-8") as f:
        return [(i, l) for i, l in enumerate(f, 1)
                if l.strip() and not l.strip().startswith(COMMENT)]


def definitions(path, lines):
    defs, objects, classes, mains = [], set(), set(), set()
    current = None
    for i, l in lines:
        m = DEF.match(l)
        if m:
            kind, name = m.group(3), m.group(4)
            if kind == "object" and not m.group(1):
                current = name
            if kind == "object":
                objects.add(name)
            if kind in ("class", "trait"):
                classes.add(name)
            defs.append((i, kind, name))
        if re.match(r"^\s*def main\(", l) and current:
            mains.add(current)
    return [(i, k, n) for i, k, n in defs
            if not (k == "object" and n in mains)], objects & classes


def uses(name, lines, companion, kind):
    word = re.compile(r"\b%s\b" % re.escape(name))
    n = 0
    for _, l in lines:
        for m in word.finditer(l):
            if companion:
                is_obj = l[m.end():m.end() + 1] == "."
                if kind == "object" and is_obj:
                    n += 1
                elif kind != "object" and not is_obj and not l.lstrip().startswith("import "):
                    n += 1
            else:
                n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else "."
    prog = {p: code_lines(p) for p in scala_files(root, "src/main") + scala_files(root, "perfbench/src")}
    tests = [l for p in scala_files(root, "src/test") for l in code_lines(p)]
    found = 0
    for path in scala_files(root, "src/main"):
        defs, companions = definitions(path, prog[path])
        others = [l for p, ls in prog.items() if p != path for l in ls]
        for i, kind, name in defs:
            comp = name in companions
            at = {d for d, _, n in defs if n == name}
            own = [(j, l) for j, l in prog[path] if j not in at]
            if uses(name, others + own, comp, kind) == 0:
                found += 1
                print(f"{os.path.relpath(path, root)}:{i}  {kind} {name}  "
                      f"tests={uses(name, tests, comp, kind)}")
    print(f"{found} unreached")


if __name__ == "__main__":
    main()
