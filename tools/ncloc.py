#!/usr/bin/env python3
"""Count non-blank Scala source lines outside comments.

A line counts when it holds at least one non-whitespace character that is
not inside a `//` line comment or a `/* */` block comment (Scala block
comments nest). Comment markers inside string literals ("...", triple-quoted
strings, interpolated strings) and character literals are not comments.

Usage: python3 tools/ncloc.py [path ...]
Each path is a .scala file or a directory searched recursively for .scala
files; prints one count per path and, for several paths, their total.
Default path: src/main.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` with code outside comments."""
    counted = set()
    line = 0
    i, n = 0, len(text)
    depth = 0          # block-comment nesting depth
    in_str = None      # None, '"' or '"""'
    while i < n:
        c = text[i]
        if c == "\n":
            line += 1
            i += 1
            continue
        if depth:
            if text.startswith("/*", i):
                depth += 1
                i += 2
            elif text.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
            continue
        if in_str == '"""':
            counted.add(line)
            if text.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i
                while j < n and text[j] == '"':
                    j += 1
                in_str = None
                i = j
            else:
                i += 1
            continue
        if in_str == '"':
            counted.add(line)
            if c == "\\":
                i += 2
            elif c == '"':
                in_str = None
                i += 1
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < n and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if c.isspace():
            i += 1
            continue
        counted.add(line)
        if text.startswith('"""', i):
            in_str = '"""'
            i += 3
        elif c == '"':
            in_str = '"'
            i += 1
        elif c == "'" and i + 2 < n and text[i + 1] != "\\" and text[i + 2] == "'":
            i += 3  # character literal 'x' (not a symbol 'x)
        elif c == "'" and text.startswith("\\", i + 1) and "'" in text[i + 3:i + 9]:
            i = text.index("'", i + 3) + 1  # escaped literal '\n', '\'', '\u0041'
        else:
            i += 1
    return len(counted)


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def count(path):
    total = 0
    for f in scala_files(path):
        with open(f, encoding="utf-8") as fh:
            total += code_lines(fh.read())
    return total


def main(argv):
    paths = argv or ["src/main"]
    counts = [(p, count(p)) for p in paths]
    for p, c in counts:
        print(f"{c:>8,}  {p}")
    if len(counts) > 1:
        print(f"{sum(c for _, c in counts):>8,}  total")


if __name__ == "__main__":
    main(sys.argv[1:])
