#!/usr/bin/env python3
"""Non-comment line counts for the Scala sources.

    python3 tools/ncloc.py [repo_dir]

Prints one line per tree (`src/main`, `src/test`): the number of non-blank
lines in its `.scala` files once `//` line comments and `/* ... */` block
comments (nested, as Scala allows) are removed. Comment markers inside
string and character literals are not comments. A line that holds code and
a comment counts once; a line that holds only a comment does not count.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` with code left after dropping comments."""
    count = 0
    depth = 0  # nesting depth of /* */ comments
    in_triple = False  # inside a """...""" literal
    for line in text.split("\n"):
        has_code = False
        i, n = 0, len(line)
        while i < n:
            c = line[i]
            if depth > 0:
                if line.startswith("*/", i):
                    depth -= 1
                    i += 2
                elif line.startswith("/*", i):
                    depth += 1
                    i += 2
                else:
                    i += 1
                continue
            if in_triple:
                has_code = True
                if line.startswith('"""', i):
                    # a literal may end in more than three quotes
                    while line.startswith('""""', i):
                        i += 1
                    in_triple = False
                    i += 3
                else:
                    i += 1
                continue
            if c.isspace():
                i += 1
            elif line.startswith("//", i):
                break
            elif line.startswith("/*", i):
                depth += 1
                i += 2
            elif line.startswith('"""', i):
                has_code = True
                in_triple = True
                i += 3
            elif c == '"':
                has_code = True
                i += 1
                while i < n and line[i] != '"':
                    i += 2 if line[i] == "\\" else 1
                i += 1
            elif c == "'" and (line.startswith("\\", i + 1) or line.startswith("'", i + 2)):
                # a character literal: 'x' or '\n' / 'A'
                has_code = True
                i += 1
                while i < n and line[i] != "'":
                    i += 2 if line[i] == "\\" else 1
                i += 1
            else:
                has_code = True
                i += 1
        if has_code:
            count += 1
    return count


def tree_lines(root):
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), encoding="utf-8") as fh:
                    total += code_lines(fh.read())
    return total


def main():
    repo = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    for tree in ("src/main", "src/test"):
        print(f"{tree} {tree_lines(os.path.join(repo, tree)):,}")


if __name__ == "__main__":
    main()
