#!/usr/bin/env python3
"""Name scan: the src/main definitions that no program code names.

Lists every definition in src/main (def, class, object, trait, type, and
the val/var members of a template) whose name appears nowhere in the code
of src/main or sinkbench/src other than on its own definition line, in
two groups: those that src/test names ("reached only by tests") and those
that nothing names ("reached by nothing").
Comments are left out of the search, so a name that only a doc comment
mentions counts as unreached; string literals stay in, so a name that code
spells as a string (a class named by reflection) counts as reached.

It is a name scan, not a call graph: a definition is reached as soon as
anything with the same name is named, and overrides, `main` (and a file's
objects when it defines one), `apply` and `unapply` are never listed.

Run from the repo root:

    python3 scripts/main_reach.py

Prints each group's `path:line kind name` rows under its heading, then
both counts and the line count of src/main.
"""
import os
import re
import sys

ROOTS = ["src/main"]
SEARCH = ["src/main", "sinkbench/src"]
TESTS = ["src/test"]
SKIP = {"main", "apply", "unapply", "toString", "equals", "hashCode"}

DEF = re.compile(
    r"^(?P<indent>\s*)(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|"
    r"sealed\s+|abstract\s+|implicit\s+|lazy\s+|case\s+|override\s+|@\w+\s+)*)"
    r"(?P<kind>def|class|object|trait|type|val|var)\s+(?P<name>[A-Za-z_]\w*)")


def scala_files(roots):
    for root in roots:
        for d, _, files in os.walk(root):
            for f in sorted(files):
                if f.endswith(".scala"):
                    yield os.path.join(d, f)


def strip_comments(text):
    """Blank out // and (nested) /* */ comments, keeping string literals
    and the line structure."""
    out, i, n, depth = [], 0, len(text), 0
    while i < n:
        c = text[i]
        if depth:
            if text.startswith("/*", i):
                depth += 1; i += 2; out.append("  ")
            elif text.startswith("*/", i):
                depth -= 1; i += 2; out.append("  ")
            else:
                out.append("\n" if c == "\n" else " "); i += 1
        elif text.startswith("/*", i):
            depth = 1; i += 2; out.append("  ")
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out.append(" " * (j - i)); i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            out.append(text[i:j]); i = j
        elif c == '"':
            j = i + 1
            while j < n and text[j] != '"' and text[j] != "\n":
                j += 2 if text[j] == "\\" else 1
            out.append(text[i:j + 1]); i = j + 1
        elif c == "'" and i + 2 < n and text[i + 2] == "'":
            out.append(text[i:i + 3]); i += 3
        else:
            out.append(c); i += 1
    return "".join(out)


def definitions(lines):
    entry = any(re.match(r"\s*def main\(", line) for line in lines)
    for no, line in enumerate(lines, 1):
        m = DEF.match(line)
        if not m:
            continue
        mods, kind, name = m.group("mods"), m.group("kind"), m.group("name")
        if "override" in mods or name in SKIP or (kind == "object" and entry):
            continue
        # a val/var counts only as a member of a template (two-space
        # indent under an object, class or trait), not as a local
        if kind in ("val", "var") and len(m.group("indent")) != 2:
            continue
        yield no, kind, name


def word_index(roots, code):
    words = {}
    for p in scala_files(roots):
        for no, line in enumerate(code[p].split("\n"), 1):
            for w in set(re.findall(r"[A-Za-z_]\w*", line)):
                words.setdefault(w, set()).add((p, no))
    return words


def main():
    code = {p: strip_comments(open(p, encoding="utf-8").read())
            for p in scala_files(SEARCH + TESTS)}
    program, tests = word_index(SEARCH, code), word_index(TESTS, code)
    nothing, only_tests = [], []
    for p in scala_files(ROOTS):
        for no, kind, name in definitions(code[p].split("\n")):
            if program.get(name, set()) - {(p, no)}:
                continue
            (only_tests if name in tests else nothing).append((p, no, kind, name))
    for title, rows in (("reached by nothing", nothing),
                        ("reached only by tests", only_tests)):
        print(f"{title}:")
        for p, no, kind, name in rows:
            print(f"  {p}:{no} {kind} {name}")
    total = sum(open(p, "rb").read().count(b"\n")
                for root in ROOTS for d, _, fs in os.walk(root)
                for p in (os.path.join(d, f) for f in fs))
    print(f"{len(nothing)} reached by nothing, {len(only_tests)} reached only by tests; "
          f"src/main: {total} lines")
    return 0


if __name__ == "__main__":
    sys.exit(main())
