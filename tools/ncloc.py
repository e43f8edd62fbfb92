#!/usr/bin/env python3
"""Count non-blank, non-comment lines of Scala source.

Usage: python3 tools/ncloc.py PATH [PATH ...]

Each PATH is a .scala file or a directory searched recursively for
.scala files. Prints one "<count>  <file>" line per file, sorted by
path, then "<total>  total". A line counts when it holds at least one
non-whitespace character outside a comment: blank lines, `//` lines and
the lines of `/* ... */` and scaladoc blocks are left out. String and
character literals are skipped while scanning, so a `//` or `/*` inside
one (a URL, a SQL comment) does not start a comment.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    count = 0
    depth = 0          # block-comment nesting (Scala block comments nest)
    in_str = None      # None, '"' or '"""'
    i, n = 0, len(text)
    line_has_code = False
    while i < n:
        c = text[i]
        if c == "\n":
            count += line_has_code
            line_has_code = False
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
        if in_str:
            if not c.isspace():
                line_has_code = True
            if in_str == '"""':
                if text.startswith('"""', i):
                    # a run of more than three quotes closes on its last three
                    j = i
                    while j < n and text[j] == '"':
                        j += 1
                    in_str = None
                    i = j
                else:
                    i += 1
            elif c == "\\":
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
        line_has_code = True
        if text.startswith('"""', i):
            in_str = '"""'
            i += 3
        elif c == '"':
            in_str = '"'
            i += 1
        elif c == "'":
            # character literal: 'x', '\n', '\\', 'A'; otherwise a
            # symbol literal or a lone quote, scanned as plain code
            if text.startswith("\\u", i + 1) and i + 7 < n and text[i + 7] == "'":
                i += 8
            elif i + 3 < n and text[i + 1] == "\\" and text[i + 3] == "'":
                i += 4
            elif i + 2 < n and text[i + 2] == "'" and text[i + 1] != "\n":
                i += 3
            else:
                i += 1
        else:
            i += 1
    count += line_has_code
    return count


def scala_files(path):
    if os.path.isfile(path):
        return [path] if path.endswith(".scala") else []
    found = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        found.extend(os.path.join(root, f) for f in files if f.endswith(".scala"))
    return found


def main(argv):
    if not argv:
        print("usage: ncloc.py PATH [PATH ...]", file=sys.stderr)
        return 2
    files = sorted({f for p in argv for f in scala_files(p)})
    total = 0
    for f in files:
        with open(f, encoding="utf-8") as fh:
            k = code_lines(fh.read())
        total += k
        print(f"{k:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
