#!/usr/bin/env python3
"""List the `src/main` declarations that no other `src/main` line names.

Usage: python3 tools/unreached.py MAIN SPECS [CALLERS ...]

MAIN is the shipped source tree (src/main), SPECS the spec tree
(src/test); each further CALLERS path (e.g. perfbench/src) is shipped
code whose lines also count as callers. For every declaration at the top
level of a MAIN .scala file, or one level inside a top-level object,
class or trait (`def`, `val`, `var`, `object`, `class`, `trait`), the
script looks for its name as a whole word on any other line of MAIN or
CALLERS, with comments stripped (a scaladoc link is not a caller). A
declaration that no such line names is printed as

    <file>:<line>  <Owner>.<name>  <specs that name it, or "-">

It is a grep-level scan: names that Spark or the JVM reach by
reflection or by overriding (`override` members, `main`, service-loaded
providers) are left out, and a common name used elsewhere for something
else counts as a caller. It only reports; its exit status is 0 unless
the arguments are wrong.
"""
import os
import re
import sys

from ncloc import scala_files, strip_comments

DECL = re.compile(
    r"^(?P<indent> {0,2})(?P<mods>(?:(?:private|protected)(?:\[\w+\])?\s+|final\s+|"
    r"implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+|override\s+)*)"
    r"(?P<kind>def|val|var|object|class|trait)\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)")
OWNER = re.compile(r"^(?:[\w\[\]]+\s+)*(?:object|class|trait)\s+(\w+)")


def read_stripped(files):
    out = {}
    for f in files:
        with open(f, encoding="utf-8") as fh:
            out[f] = strip_comments(fh.read()).split("\n")
    return out


def declarations(path, lines):
    owner = None
    for no, line in enumerate(lines, 1):
        if line and not line[0].isspace():
            m = OWNER.match(line)
            owner = m.group(1) if m else None
        m = DECL.match(line)
        if not m:
            continue
        indent, mods, name = len(m.group("indent")), m.group("mods"), m.group("name")
        if indent == 1 or "override" in mods or name == "main":
            continue
        if indent == 2 and owner is None:
            continue
        label = name if indent == 0 else f"{owner}.{name}"
        yield no, name, label


IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def index(files):
    """name -> set of (file, line) where it appears as a whole word."""
    seen = {}
    for f, lines in files.items():
        for no, line in enumerate(lines, 1):
            for name in set(IDENT.findall(line)):
                seen.setdefault(name, set()).add((f, no))
    return seen


def main(argv):
    if len(argv) < 2:
        print("usage: unreached.py MAIN SPECS [CALLERS ...]", file=sys.stderr)
        return 2
    main_dir, spec_dir, callers = argv[0], argv[1], argv[2:]
    main_files = sorted(scala_files(main_dir))
    shipped = read_stripped(sorted(set(main_files) |
                                   {f for p in callers for f in scala_files(p)}))
    # service registrations name their providers outside any .scala file
    registered = set()
    for root, _, files in os.walk(main_dir):
        if "META-INF" in root:
            for f in files:
                with open(os.path.join(root, f), encoding="utf-8") as fh:
                    registered.update(IDENT.findall(fh.read()))
    uses = index(shipped)
    spec_uses = index(read_stripped(sorted(scala_files(spec_dir))))
    for path in main_files:
        for no, name, label in declarations(path, shipped[path]):
            if name in registered or uses.get(name, set()) - {(path, no)}:
                continue
            by = sorted({os.path.basename(f)[:-len(".scala")]
                         for f, _ in spec_uses.get(name, ())})
            print(f"{path}:{no}  {label}  {', '.join(by) or '-'}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
