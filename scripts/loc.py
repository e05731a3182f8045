#!/usr/bin/env python3
"""Counts Scala code lines: non-blank lines with at least one character
outside `//` and `/* */` comments (block comments nest, as in Scala;
comment markers inside string and character literals are not comments).

    python3 scripts/loc.py src/main/scala src/main/scala/graft/tools

Each argument is a .scala file or a directory searched recursively for
.scala files. Prints one `<lines>  <path>` row per argument, then the
total over all arguments (a file named twice is counted twice).
"""

import os
import re
import sys

CHAR_LIT = re.compile(r"'(?:\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'")


def code_lines(src):
    """Number of lines of `src` holding a non-blank character that is
    not inside a comment."""
    code = set()  # line numbers that hold code
    line = 0
    depth = 0  # block-comment nesting
    string = None  # None, '"' or '"""'
    i, n = 0, len(src)
    while i < n:
        c = src[i]
        if c == "\n":
            line += 1
            if string == '"':  # an unterminated one-line string ends here
                string = None
            i += 1
        elif depth:
            if src.startswith("/*", i):
                depth += 1
                i += 2
            elif src.startswith("*/", i):
                depth -= 1
                i += 2
            else:
                i += 1
        elif string == '"""':
            if not c.isspace():
                code.add(line)
            if src.startswith('"""', i):
                # a run of quotes closes on its last three
                j = i + 3
                while j < n and src[j] == '"':
                    j += 1
                string = None
                i = j
            else:
                i += 1
        elif string == '"':
            code.add(line)
            if c == "\\" and src[i + 1:i + 2] != "\n":
                i += 2
            else:
                if c == '"':
                    string = None
                i += 1
        elif src.startswith("//", i):
            while i < n and src[i] != "\n":
                i += 1
        elif src.startswith("/*", i):
            depth = 1
            i += 2
        elif src.startswith('"""', i):
            code.add(line)
            string = '"""'
            i += 3
        elif c == '"':
            code.add(line)
            string = '"'
            i += 1
        elif c == "'" and CHAR_LIT.match(src, i):
            code.add(line)
            i = CHAR_LIT.match(src, i).end()
        else:
            if not c.isspace():
                code.add(line)
            i += 1
    return len(code)


def scala_files(path):
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        sys.exit("loc.py: no such file or directory: " + path)
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".scala"))


def main(paths):
    if not paths:
        sys.exit(__doc__)
    total = 0
    for p in paths:
        count = 0
        for f in scala_files(p):
            with open(f, encoding="utf-8") as fh:
                count += code_lines(fh.read())
        print("%8d  %s" % (count, p))
        total += count
    print("%8d  total" % total)


if __name__ == "__main__":
    main(sys.argv[1:])
