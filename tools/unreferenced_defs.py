#!/usr/bin/env python3
"""Report public and `private[graft]` defs that nothing outside their own
file calls.

For every such `def` under src/main/scala, the name is searched as a whole
word in the code (comments stripped) of every other file under
src/main/scala and perfbench/harness. Defs with no hit there are listed in
two groups:

  tests only    some file under src/test/scala names it
  unreferenced  no test names it either

Each entry carries its use count in its own file: a def used there is
live but could be private; a def with 0 uses there is dead or an API
kept for users outside this repository. The search is by name, so a
common name (`run`, `apply`) used by an unrelated def elsewhere hides a
dead one: read the report as candidates to confirm, not a verdict.
`override`s and `main`s are skipped (the framework or the shell calls
them).

Usage: python3 tools/unreferenced_defs.py [repo_root]
A report: it always exits 0.
"""
import re
import sys
from pathlib import Path

DEF = re.compile(r"^\s*((?:@?\w+(?:\[\w+\])?\s+)*)def\s+([A-Za-z_]\w*)")
HIDDEN = re.compile(r"\b(?:override|protected|private(?!\[graft\]))\b")
OWNER = re.compile(r"^(\s*)(?:private\[\w+\]\s+|final\s+|case\s+|sealed\s+|"
                   r"abstract\s+|implicit\s+)*(object|class|trait)\s+(\w+)")
SKIP = {"main", "apply", "unapply", "toString", "equals", "hashCode"}


def strip_comments(src):
    """Code with // and (nested) /* */ comments blanked; string literals
    are kept, since interpolations inside them are code."""
    out, i, n, depth = [], 0, len(src), 0
    in_str = None
    while i < n:
        c = src[i]
        if depth:
            if src.startswith("/*", i):
                depth, i = depth + 1, i + 2
            elif src.startswith("*/", i):
                depth, i = depth - 1, i + 2
            else:
                if c == "\n":
                    out.append(c)
                i += 1
            continue
        if in_str:
            if src.startswith(in_str, i):
                out.append(in_str)
                i += len(in_str)
                in_str = None
            elif c == "\\" and in_str == '"':
                out.append(src[i:i + 2])
                i += 2
            else:
                out.append(c)
                i += 1
            continue
        if src.startswith('"""', i):
            in_str = '"""'
            out.append(in_str)
            i += 3
        elif c == '"':
            in_str = '"'
            out.append(c)
            i += 1
        elif src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
        elif src.startswith("/*", i):
            depth, i = 1, i + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def defs_of(path, code):
    """(owner, name) of each public or private[graft] member def in
    `code`; defs local to another def are skipped."""
    scopes = []  # (indent, is_def, name) stack of enclosing definitions
    found = []
    for line in code.splitlines():
        if not line.strip():
            continue
        indent = len(line) - len(line.lstrip())
        while scopes and scopes[-1][0] >= indent:
            scopes.pop()
        m = OWNER.match(line)
        if m:
            scopes.append((indent, False, m.group(3)))
            continue
        m = DEF.match(line)
        if not m:
            continue
        local = any(is_def for _, is_def, _ in scopes)
        scopes.append((indent, True, m.group(2)))
        if local or HIDDEN.search(m.group(1)) or m.group(2) in SKIP:
            continue
        owner = scopes[-2][2] if len(scopes) > 1 else path.stem
        found.append((owner, m.group(2)))
    return found


def main():
    root = Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve()
    main_files = sorted((root / "src/main/scala").rglob("*.scala"))
    callers = main_files + sorted((root / "perfbench/harness")
                                  .rglob("*.scala"))
    tests = sorted((root / "src/test/scala").rglob("*.scala"))
    code = {p: strip_comments(p.read_text(encoding="utf-8"))
            for p in set(callers) | set(tests)}

    def hits(name, files):
        word = re.compile(r"\b%s\b" % re.escape(name))
        return sum(len(word.findall(code[p])) for p in files)

    tests_only, unreferenced = [], []
    for path in main_files:
        others = [p for p in callers if p != path]
        for owner, name in defs_of(path, code[path]):
            if hits(name, others):
                continue
            own = hits(name, [path]) - 1  # minus the definition itself
            entry = "%s.%s  (%s, %d use%s in own file)" % (
                owner, name, path.relative_to(root), own,
                "" if own == 1 else "s")
            (tests_only if hits(name, tests) else unreferenced).append(entry)
    for title, rows in (("tests only", tests_only),
                        ("unreferenced", unreferenced)):
        print("== %s: %d ==" % (title, len(rows)))
        for r in rows:
            print("  " + r)


if __name__ == "__main__":
    try:
        main()
    except Exception as e:  # a report never fails the caller
        print("unreferenced_defs: %s" % e, file=sys.stderr)
    sys.exit(0)
