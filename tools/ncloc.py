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


def strip_comments(text):
    """`text` with every comment removed and every newline kept, so
    line numbers still match. String and character literals are kept
    as they are."""
    out = []
    depth = 0          # block-comment nesting (Scala block comments nest)
    in_str = None      # None, '"' or '"""'
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == "\n":
            out.append(c)
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
            if in_str == '"""':
                if text.startswith('"""', i):
                    # a run of more than three quotes closes on its last three
                    j = i
                    while j < n and text[j] == '"':
                        j += 1
                    in_str = None
                    out.append(text[i:j])
                    i = j
                else:
                    out.append(c)
                    i += 1
            elif c == "\\":
                out.append(text[i:i + 2])
                i += 2
            elif c == '"':
                in_str = None
                out.append(c)
                i += 1
            else:
                out.append(c)
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
        step = 1
        if text.startswith('"""', i):
            in_str = '"""'
            step = 3
        elif c == '"':
            in_str = '"'
        elif c == "'":
            # character literal: 'x', '\n', '\\', 'A'; otherwise a
            # symbol literal or a lone quote, scanned as plain code
            if text.startswith("\\u", i + 1) and i + 7 < n and text[i + 7] == "'":
                step = 8
            elif i + 3 < n and text[i + 1] == "\\" and text[i + 3] == "'":
                step = 4
            elif i + 2 < n and text[i + 2] == "'" and text[i + 1] != "\n":
                step = 3
        out.append(text[i:i + step])
        i += step
    return "".join(out)


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    return sum(1 for line in strip_comments(text).split("\n") if line.strip())


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
