#!/usr/bin/env python3
"""Code lines per package under src/main/scala/graft. Usage:

    python3 tools/code_lines.py [repoRoot]

A package is a directory directly under src/main/scala/graft (files
directly in graft/ count as package `graft`). A line counts unless it is
blank, is a `//` line, or lies inside a `/* ... */` block that opens at the
start of a line (the opening and closing lines included). Prints one
`<package> <lines>` row per package, sorted by name.
"""
import os
import sys


def code_lines(path: str) -> int:
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if in_block:
                if "*/" in line:
                    in_block = False
                continue
            if not line or line.startswith("//"):
                continue
            if line.startswith("/*"):
                in_block = "*/" not in line[2:]
                continue
            n += 1
    return n


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "..")
    base = os.path.join(root, "src", "main", "scala", "graft")
    totals = {}
    for dirpath, _, files in os.walk(base):
        rel = os.path.relpath(dirpath, base)
        pkg = "graft" if rel == "." else rel.split(os.sep)[0]
        for name in files:
            if name.endswith(".scala"):
                totals[pkg] = totals.get(pkg, 0) + code_lines(
                    os.path.join(dirpath, name))
    for pkg in sorted(totals):
        print(f"{pkg} {totals[pkg]}")


if __name__ == "__main__":
    main()
