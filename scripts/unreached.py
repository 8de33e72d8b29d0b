#!/usr/bin/env python3
"""List the defs under ops/, sources/ and functions/ that nothing reaches.

Usage: python3 scripts/unreached.py [repo_root]

Prints `<file>:<line> <object>.<def>` for each `def` declared under
src/main/scala/graft/{ops,sources,functions} whose name occurs nowhere
else, outside comments, in src/main, perfbench/harness/src or scripts/.
Specs (src/test) do not count: code that only a spec calls is unreached.

Matching is by name only, so it errs towards "reached":
- a name declared by two or more defs (an overload, or the same name in
  two objects) counts as reached;
- an `override def` counts as reached, since its supertype calls it;
- an occurrence inside a string literal counts (SQL names a registered
  function by string).
Exit status is 0 whatever the list holds.
"""
import os
import re
import sys
from collections import defaultdict

DECL_DIRS = ["src/main/scala/graft/ops", "src/main/scala/graft/sources",
             "src/main/scala/graft/functions"]
SCAN_DIRS = ["src/main", "perfbench/harness/src", "scripts"]
SCAN_EXTS = (".scala", ".java", ".py", ".sh")

IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
DEF = re.compile(r"\bdef\s+([A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"\b(?:object|class|trait)\s+([A-Za-z_][A-Za-z0-9_]*)")


def strip_scala_comments(src):
    """Blank out // and /* */ comments (nested, as Scala allows), keeping
    string and char literals and every newline, so line numbers hold."""
    out, i, n = [], 0, len(src)
    while i < n:
        if src.startswith('"""', i):
            j = src.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and src[j] == '"':  # """a"""" ends on the last quote
                j += 1
            out.append(src[i:j]); i = j
        elif src[i] == '"':
            j = i + 1
            while j < n and src[j] not in '"\n':
                j += 2 if src[j] == "\\" else 1
            out.append(src[i:j + 1]); i = j + 1
        elif src[i] == "'" and re.match(r"'(\\.[^']*|[^'\\\n])'", src[i:i + 8]):
            j = src.index("'", i + 2 if src[i + 1] != "\\" else i + 3) + 1
            out.append(src[i:j]); i = j
        elif src.startswith("//", i):
            j = src.find("\n", i)
            i = n if j < 0 else j
        elif src.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if src.startswith("/*", j): depth += 1; j += 2
                elif src.startswith("*/", j): depth -= 1; j += 2
                else: j += 1
            out.append("\n" * src.count("\n", i, j)); i = j
        else:
            out.append(src[i]); i += 1
    return "".join(out)


def strip_hash_comments(src):
    """Blank out # comments in Python and shell, outside quotes."""
    lines = []
    for line in src.split("\n"):
        quote, cut = None, len(line)
        for k, c in enumerate(line):
            if quote:
                if c == quote: quote = None
            elif c in "'\"": quote = c
            elif c == "#": cut = k; break
        lines.append(line[:cut])
    return "\n".join(lines)


def code_of(path):
    with open(path, encoding="utf-8") as f:
        src = f.read()
    return strip_scala_comments(src) if path.endswith((".scala", ".java")) \
        else strip_hash_comments(src)


def files_under(root, rel):
    for d, _, names in os.walk(os.path.join(root, rel)):
        for name in sorted(names):
            path = os.path.join(d, name)
            # this script's own text names no Scala def
            if name.endswith(SCAN_EXTS) and path != os.path.abspath(__file__):
                yield path


def main():
    root = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    decls = []                 # (rel path, line, owner, name, is_override)
    uses = defaultdict(int)    # name -> occurrences that are not `def name`
    decl_dirs = tuple(os.path.join(root, d) + os.sep for d in DECL_DIRS)
    for rel in SCAN_DIRS:
        for path in files_under(root, rel):
            code = code_of(path)
            declared = path.startswith(decl_dirs)
            owner = "?"
            for ln, line in enumerate(code.split("\n"), 1):
                m = OWNER.search(line)
                if m and not line[:1].isspace():
                    owner = m.group(1)
                def_spans = set()
                for d in DEF.finditer(line):
                    def_spans.add(d.start(1))
                    if declared:
                        decls.append((os.path.relpath(path, root), ln, owner,
                                      d.group(1),
                                      "override" in line[:d.start()].split()))
                for t in IDENT.finditer(line):
                    if t.start() not in def_spans:
                        uses[t.group()] += 1
    per_name = defaultdict(int)
    for d in decls:
        per_name[d[3]] += 1
    for rel, ln, owner, name, is_override in decls:
        if not is_override and per_name[name] == 1 and uses[name] == 0:
            print(f"{rel}:{ln} {owner}.{name}")


if __name__ == "__main__":
    main()
