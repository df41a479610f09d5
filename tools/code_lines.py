#!/usr/bin/env python3
"""Count code lines -- lines holding anything outside comments and
whitespace -- in the Scala and Java sources under src/main and src/test.

Usage:
  tools/code_lines.py            # the working tree (files git tracks or
                                 # would track: untracked but not ignored)
  tools/code_lines.py REV        # a git revision, read with `git show`
  tools/code_lines.py REV1 REV2  # both, plus the difference per root

Comments are `//` to end of line and `/* ... */` (nested, as Scala nests
them); string, triple-quoted string and char literals are skipped so a
`//` or `/*` inside them is code. Run from anywhere inside the repo.
"""
import os
import subprocess
import sys

ROOTS = ("src/main", "src/test")
EXTS = (".scala", ".java")


def code_lines(text):
    """Number of lines with at least one non-blank char outside comments."""
    n = len(text)
    i = 0
    depth = 0  # block comment nesting
    has_code = False
    count = 0
    while i < n:
        c = text[i]
        if c == "\n":
            count += has_code
            has_code = False
            i += 1
        elif depth > 0:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            i = n if j < 0 else j
        elif text.startswith("/*", i):
            depth = 1
            i += 2
        elif text.startswith('"""', i):
            has_code = True
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':  # `""""` closes on the last quotes
                j += 1
            count += text.count("\n", i, j)  # every line of it is code
            i = j
        elif c == '"':
            has_code = True
            i += 1
            while i < n and text[i] not in '"\n':
                i += 2 if text[i] == "\\" else 1
            i += 1 if i < n and text[i] == '"' else 0
        elif c == "'" and i + 2 < n and (text[i + 2] == "'" or text[i + 1] == "\\"):
            # a char literal ('x', '\n', 'A'); a lone ' is a symbol
            has_code = True
            j = text.find("'", i + 3 if text[i + 1] == "\\" else i + 2)
            i = n if j < 0 else j + 1
        else:
            if not c.isspace():
                has_code = True
            i += 1
    return count + has_code


def git(*args):
    return subprocess.run(("git",) + args, check=True, capture_output=True).stdout


def count_rev(rev):
    out = {}
    for root in ROOTS:
        names = git("ls-tree", "-r", "--name-only", rev, "--", root).decode().split()
        out[root] = sum(code_lines(git("show", f"{rev}:{p}").decode("utf-8"))
                        for p in names if p.endswith(EXTS))
    return out


def count_tree():
    """Same file set as count_rev: what git tracks or would track (new,
    not ignored), read from disk; a tracked file deleted on disk counts 0."""
    out = {}
    for root in ROOTS:
        names = git("ls-files", "-co", "--exclude-standard", "--", root).decode().split()
        total = 0
        for p in names:
            if p.endswith(EXTS) and os.path.isfile(p):
                with open(p, encoding="utf-8") as fh:
                    total += code_lines(fh.read())
        out[root] = total
    return out


def main(argv):
    os.chdir(git("rev-parse", "--show-toplevel").decode().strip())
    if len(argv) > 2:
        sys.exit(__doc__)
    counts = [(rev, count_rev(rev)) for rev in argv] or [("working tree", count_tree())]
    for label, c in counts:
        print(label + ": " + ", ".join(f"{r} {c[r]:,}" for r in ROOTS))
    if len(counts) == 2:
        (_, a), (_, b) = counts
        print("change: " + ", ".join(f"{r} {b[r] - a[r]:+,}" for r in ROOTS))


if __name__ == "__main__":
    main(sys.argv[1:])
