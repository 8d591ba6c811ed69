#!/usr/bin/env python3
"""List default-valued Scala parameters that no call in the code base sets.

Usage: python3 scripts/unset_defaults.py [--scope]

Scans every `def` and class constructor under src/main for parameters
with a default (`name: T = v`), then every call under src/main, src/test
and sinkbench/src: `name(...)`, `new Name(...)`, `extends Name(...)` and
`.copy(...)`, with each following argument list, in code and in the
`${...}` splices of interpolated strings (comments and the literal text
of strings are skipped). A parameter counts as
set when a call passes it by name, or passes positional arguments up to
its position. A call qualified by a capitalized name
(`Sampling.capPerGroup(...)`) matches only defs inside that object or
class; any other call matches every def of that name, so an overload or
a same-named method elsewhere can mark a parameter set (the scan errs
towards "set"); compiling without the parameter is the proof.

Prints `file:line def(param)` for each unset parameter and a summary:
all default-valued parameters in src/main, and how many no call sets.
`--scope` restricts the listing to graft.operators, graft.functions and
the `Streaming*` standing operators.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DEF_ROOTS = [ROOT / "src/main/scala"]
CALL_ROOTS = [ROOT / "src/main/scala", ROOT / "src/test/scala",
              ROOT / "sinkbench/src"]
IDENT = r"(?:[A-Za-z_][A-Za-z0-9_]*|`[^`]+`)"


def blank(src):
    """Comments and string literals become spaces (offsets are kept). The
    `${...}` splices of an interpolated string (`s"..."`, triple-quoted
    too) stay code: calls inside them count."""
    out, n = list(src), len(src)

    def fill(a, b):
        for k in range(a, b):
            if out[k] != "\n":
                out[k] = " "

    def code(i, in_splice):
        """Scan code from i; in a `${` splice, stop past its closing brace."""
        depth = 0
        while i < n:
            if src.startswith("//", i):
                j = src.find("\n", i)
                j = n if j < 0 else j
                fill(i, j); i = j
            elif src.startswith("/*", i):
                j = src.find("*/", i + 2)
                j = n if j < 0 else j + 2
                fill(i, j); i = j
            elif src[i] == '"':
                i = string(i, i > 0 and (src[i - 1].isalnum() or src[i - 1] == "_"))
            elif src[i] == "'" and i + 2 < n and (src[i + 2] == "'" or
                                                 src[i + 1] == "\\"):
                j = src.find("'", i + 2)
                fill(i + 1, j); i = j + 1
            elif in_splice and src[i] == "{":
                depth += 1; i += 1
            elif in_splice and src[i] == "}":
                if depth == 0:
                    return i + 1
                depth -= 1; i += 1
            else:
                i += 1
        return i

    def string(i, interpolated):
        """Blank the literal opening at i; return the index past it."""
        triple = src.startswith('"""', i)
        j = i + (3 if triple else 1)
        while j < n:
            if triple and src.startswith('"""', j):
                k = j + 3
                while k < n and src[k] == '"':
                    k += 1
                fill(j, k - 3)
                return k
            if not triple and src[j] in '"\n':
                return j + 1
            if interpolated and src.startswith("${", j):
                j = code(j + 2, True)
            elif not triple and src[j] == "\\":
                fill(j, min(j + 2, n)); j += 2
            else:
                fill(j, j + 1); j += 1
        return n

    code(0, False)
    return "".join(out)


def close(s, i):
    """Index just past the bracket group opening at s[i]."""
    pairs = {"(": ")", "[": "]", "{": "}"}
    stack = []
    for j in range(i, len(s)):
        c = s[j]
        if c in pairs:
            stack.append(pairs[c])
        elif c in ")]}":
            if stack and stack[-1] == c:
                stack.pop()
            if not stack:
                return j + 1
    return len(s)


def split_top(s):
    """Split on commas outside any bracket group."""
    parts, depth, start = [], 0, 0
    for j, c in enumerate(s):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append(s[start:j]); start = j
            start = j + 1
    parts.append(s[start:])
    return [p for p in parts if p.strip()]


def top_eq(p):
    """Offset of a top-level `=` that is an assignment, or -1."""
    depth = 0
    for j, c in enumerate(p):
        if c in "([{":
            depth += 1
        elif c in ")]}":
            depth -= 1
        elif c == "=" and depth == 0:
            prev = p[j - 1] if j else ""
            nxt = p[j + 1] if j + 1 < len(p) else ""
            if nxt not in "=>" and prev not in "=<>!":
                return j
    return -1


def arg_lists(s, i):
    """The consecutive `(...)` groups starting at s[i] (after a type arg)."""
    lists = []
    while True:
        while i < len(s) and s[i] in " \t":
            i += 1
        if i < len(s) and s[i] == "[" and not lists:
            i = close(s, i)
            continue
        if i >= len(s) or s[i] != "(":
            return lists, i
        j = close(s, i)
        lists.append(s[i + 1:j - 1])
        i = j


def containers(text):
    """(start, end, name) of every object/class/trait body."""
    out = []
    for m in re.finditer(r"\b(?:object|class|trait)\s+(" + IDENT + r")", text):
        i = m.end()
        while i < len(text) and text[i] not in "{\n;=":
            i = close(text, i) if text[i] in "([" else i + 1
        j = text.find("{", i)
        nl = text.find("\n\n", i)
        if j < 0 or (0 <= nl < j):
            continue
        out.append((j, close(text, j), m.group(1)))
    return out


def defs(path, text):
    boxes = containers(text)
    pat = re.compile(r"\b(def|class)\s+(" + IDENT + r")")
    for m in pat.finditer(text):
        line_start = text.rfind("\n", 0, m.start()) + 1
        if "override" in text[line_start:m.start()]:
            continue
        i = m.end()
        if m.group(1) == "class":
            # `class C[T] private (...)`
            tm = re.compile(r"\s*(\[)?").match(text, i)
            if tm.group(1):
                i = close(text, tm.end() - 1)
            am = re.compile(r"\s*(?:private|protected)?\s*").match(text, i)
            i = am.end()
        lists, _ = arg_lists(text, i)
        params = []
        for li, lst in enumerate(lists):
            body = re.sub(r"^\s*implicit\b", "", lst)
            for pi, p in enumerate(split_top(body)):
                e = top_eq(p)
                if e < 0:
                    continue
                head = p[:e]
                nm = re.search(r"(" + IDENT + r")\s*:", head)
                if nm:
                    params.append((li, pi, nm.group(1)))
        if params:
            line = text.count("\n", 0, m.start()) + 1
            owners = {n for a, b, n in boxes if a < m.start() < b}
            yield m.group(2), line, m.group(1), params, owners


def calls(text):
    """(callee name, qualifier, [arg lists]) for every call-shaped
    occurrence; the qualifier is a capitalized `Name.` prefix or None."""
    pat = re.compile(r"(\bdef\s+|\bclass\s+)?(" + IDENT + r")\s*(?=[\[(])")
    for m in pat.finditer(text):
        if m.group(1):
            continue
        lists, _ = arg_lists(text, m.end())
        if lists:
            q = re.search(r"\b([A-Z]\w*)\s*\.\s*$", text[:m.start()][-80:])
            yield m.group(2), q.group(1) if q else None, lists


def parsed(args):
    named, positional = set(), 0
    for a in split_top(args):
        e = top_eq(a)
        name = a[:e].strip() if e >= 0 else None
        if name and re.fullmatch(IDENT, name):
            named.add(name)
        else:
            positional += 1
    return positional, named


def main():
    scope_only = "--scope" in sys.argv
    sources = {}
    for root in CALL_ROOTS:
        for p in sorted(root.rglob("*.scala")):
            sources[p] = blank(p.read_text(encoding="utf-8"))
    by_name = {}
    for p, text in sources.items():
        for name, qual, lists in calls(text):
            by_name.setdefault(name, []).append(
                (qual, [parsed(a) for a in lists]))
    copy_named = {n for _, c in by_name.get("copy", []) for _, ns in c
                  for n in ns}

    total = unset = 0
    for root in DEF_ROOTS:
        for p in sorted(root.rglob("*.scala")):
            rel = p.relative_to(ROOT)
            in_scope = ("/graft/operators/" in str(rel) or
                        "/graft/functions/" in str(rel) or
                        re.search(r"/graft/streaming/Streaming\w*\.scala$",
                                  str(rel)) is not None)
            for name, line, kind, params, owners in defs(p, sources[p]):
                sites = [c for q, c in by_name.get(name, [])
                         if q is None or q in owners or
                         (kind == "class" and q == name)]
                for li, pi, pname in params:
                    is_set = any(
                        li < len(c) and (c[li][0] > pi or pname in c[li][1])
                        for c in sites) or (kind == "class" and
                                            pname in copy_named)
                    total += 1
                    unset += not is_set
                    if not is_set and (in_scope or not scope_only):
                        print(f"{rel}:{line} {name}({pname})")
    print(f"default-valued parameters in src/main: {total}; "
          f"set by no call: {unset}", file=sys.stderr)


if __name__ == "__main__":
    main()
