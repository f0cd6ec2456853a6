#!/usr/bin/env python3
"""Report identical 3-line code windows under src/main (duplicated plumbing).

Usage: tools/dupscan.py [ROOT]   (ROOT defaults to this checkout)

Comment, import and package lines and the bodies of triple-quoted strings
(the DuckDB oracle SQL) are skipped, indentation is ignored, and a window
counts only when it holds at least 60 non-blank characters, so braces
and short one-liners do not match. Each group of identical windows is
printed once with every file:line where it starts.
"""
import os
import sys
from collections import defaultdict

root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(os.path.dirname(__file__), "..")
n = 3


def code_lines(path):
    in_str = False
    for no, raw in enumerate(open(path, encoding="utf-8"), 1):
        line = raw.strip()
        quotes = line.count('"""')
        if in_str:
            if quotes % 2 == 1:
                in_str = False
            continue
        if quotes % 2 == 1:
            in_str = True
            continue
        if not line or line.startswith(("//", "/*", "*", "*/", "import ", "package ")):
            continue
        yield no, line


windows = defaultdict(list)
src = os.path.join(root, "src", "main")
for d, _, files in os.walk(src):
    for f in sorted(files):
        if not f.endswith(".scala"):
            continue
        p = os.path.join(d, f)
        lines = list(code_lines(p))
        for i in range(len(lines) - n + 1):
            w = tuple(l for _, l in lines[i:i + n])
            if sum(len(l) for l in w) >= 60:
                windows[w].append(f"{os.path.relpath(p, src)}:{lines[i][0]}")

groups = sorted((locs, w) for w, locs in windows.items() if len(locs) > 1)
for locs, w in groups:
    print("  ".join(locs))
    for l in w:
        print("    | " + l)
print(f"{len(groups)} duplicated {n}-line windows")
