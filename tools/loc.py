#!/usr/bin/env python3
"""Count graft's main-code lines: every line of src/main/**/*.scala, and
the non-comment ones (non-blank lines whose first non-space characters
are not `//`, `/*` or `*`).

Usage: python3 tools/loc.py [repo_root]
Prints: `main <total> total, <code> non-comment`.
"""
import pathlib
import sys


def count(root: pathlib.Path) -> tuple[int, int]:
    total = code = 0
    for f in sorted((root / "src" / "main").rglob("*.scala")):
        for line in f.read_text(encoding="utf-8").splitlines():
            total += 1
            s = line.strip()
            if s and not s.startswith(("//", "/*", "*")):
                code += 1
    return total, code


if __name__ == "__main__":
    root = pathlib.Path(sys.argv[1] if len(sys.argv) > 1 else
                        pathlib.Path(__file__).resolve().parent.parent)
    total, code = count(root)
    print(f"main {total} total, {code} non-comment")
