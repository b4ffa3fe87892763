#!/usr/bin/env python3
"""Code / comment / blank line deltas of src/main/**/*.scala between two trees.

usage: tools/loc_delta.py <base> [<head>]

<base> and <head> are git revisions; without <head> the working tree is
compared. A line is `code` when it holds anything outside a comment, `comment`
when it holds only comment text (`//` to end of line, or inside `/* ... */`,
which nests as in Scala), and `blank` otherwise. String and character literals
are skipped, so a `//` inside a string is code. Prints one row per changed file
and a TOTAL row; exits 0.
"""
import subprocess
import sys
from pathlib import Path

ROOT = "src/main"


def classify(text):
    """Return (code, comment, blank) line counts of one Scala source."""
    code = comment = blank = 0
    depth = 0           # nested /* */ depth carried across lines
    in_triple = False   # inside a """ string carried across lines
    for line in text.splitlines():
        has_code = has_comment = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth > 0:
                if line.startswith("/*", i):
                    depth += 1
                    i += 2
                elif line.startswith("*/", i):
                    depth -= 1
                    i += 2
                else:
                    i += 1
                has_comment = True
            elif in_triple:
                has_code = True
                if line.startswith('"""', i):
                    in_triple = False
                    i += 3
                else:
                    i += 1
            elif line.startswith("//", i):
                has_comment = True
                break
            elif line.startswith("/*", i):
                depth, has_comment = 1, True
                i += 2
            elif line.startswith('"""', i):
                in_triple, has_code = True, True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'":
                has_code = True
                # a character literal ('x', '\n', '\u0000'); otherwise a symbol quote
                if line.startswith("\\", i + 1):
                    close = line.find("'", i + 2)
                    i = close + 1 if close > 0 else i + 1
                elif i + 2 < n and line[i + 2] == "'":
                    i += 3
                else:
                    i += 1
            else:
                if not c.isspace():
                    has_code = True
                i += 1
        if has_code:
            code += 1
        elif has_comment and line.strip():
            comment += 1
        else:
            blank += 1
    return code, comment, blank


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True, text=True).stdout


def tree_at(rev):
    """{path: text} of every Scala source under src/main at a revision (None = working tree)."""
    if rev is None:
        return {str(p): p.read_text(encoding="utf-8") for p in Path(ROOT).rglob("*.scala")}
    names = git("ls-tree", "-r", "--name-only", rev, "--", ROOT).split()
    return {p: git("show", f"{rev}:{p}") for p in names if p.endswith(".scala")}


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[2])
    base_rev, head_rev = argv[1], (argv[2] if len(argv) == 3 else None)
    base, head = tree_at(base_rev), tree_at(head_rev)
    zero = (0, 0, 0)
    totals = [[0, 0, 0], [0, 0, 0]]
    rows = []
    for path in sorted(set(base) | set(head)):
        b = classify(base[path]) if path in base else zero
        h = classify(head[path]) if path in head else zero
        for k in range(3):
            totals[0][k] += b[k]
            totals[1][k] += h[k]
        if b != h or base.get(path) != head.get(path):
            rows.append((tuple(h[k] - b[k] for k in range(3)), path))
    print(f"{'code':>7} {'comment':>8} {'blank':>7}  file ({base_rev} -> {head_rev or 'working tree'})")
    for (dc, dm, db), path in rows:
        print(f"{dc:>+7d} {dm:>+8d} {db:>+7d}  {path}")
    d = [totals[1][k] - totals[0][k] for k in range(3)]
    print(f"{d[0]:>+7d} {d[1]:>+8d} {d[2]:>+7d}  TOTAL "
          f"(code {totals[0][0]} -> {totals[1][0]}, comment {totals[0][1]} -> {totals[1][1]}, "
          f"blank {totals[0][2]} -> {totals[1][2]})")


if __name__ == "__main__":
    main(sys.argv)
