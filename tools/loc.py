#!/usr/bin/env python3
"""Count code and comment lines per Scala source file under src/main.

A code line is a non-blank line that is not a comment line; a comment line
is a `//` line or a line inside a `/* ... */` (or `/** ... */`) block.
Blank lines are counted in neither column.

    python3 tools/loc.py [root]        # root defaults to the repo's src/main
"""
import os
import sys


def count(path):
    code = comment = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            if not line:
                continue
            if in_block:
                comment += 1
                in_block = "*/" not in line
            elif line.startswith("//"):
                comment += 1
            elif line.startswith("/*"):
                comment += 1
                in_block = "*/" not in line[2:]
            else:
                code += 1
    return code, comment


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.join(here, "..", "src", "main")
    rows = []
    for dirpath, _, files in os.walk(root):
        for name in files:
            if name.endswith(".scala"):
                path = os.path.join(dirpath, name)
                rows.append((os.path.relpath(path, root),) + count(path))
    rows.sort()
    width = max([len(r[0]) for r in rows] + [5])
    print(f"{'file':<{width}} {'code':>6} {'comment':>8}")
    for name, code, comment in rows:
        print(f"{name:<{width}} {code:>6} {comment:>8}")
    print(f"{'total':<{width}} {sum(r[1] for r in rows):>6} {sum(r[2] for r in rows):>8}")


if __name__ == "__main__":
    main()
