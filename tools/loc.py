#!/usr/bin/env python3
"""Code-line count of the graft sources.

    python3 tools/loc.py [repo_root]

Prints the code lines of src/main and src/test: .scala and .java files,
counting every line that is not blank and does not start (after leading
whitespace) with `//`, `/*` or `*`.
"""
import os
import sys

EXTS = (".scala", ".java")
COMMENT = ("//", "/*", "*")


def code_lines(top):
    n = 0
    for dirpath, _, files in os.walk(top):
        for f in files:
            if f.endswith(EXTS):
                with open(os.path.join(dirpath, f), encoding="utf-8") as fh:
                    for line in fh:
                        s = line.strip()
                        if s and not s.startswith(COMMENT):
                            n += 1
    return n


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    for part in ("main", "test"):
        print(f"src/{part}: {code_lines(os.path.join(root, 'src', part))}")


if __name__ == "__main__":
    main()
