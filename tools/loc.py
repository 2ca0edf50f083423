#!/usr/bin/env python3
"""Count the non-blank, non-comment lines of Scala under src/main/scala.

    python3 tools/loc.py [root]       # default root: src/main/scala
    python3 tools/loc.py --per-file   # also list each file's count

A line counts when it holds at least one character of code or of a string
literal. Line comments (`// ...`) and block comments (`/* ... */`, nested
as Scala nests them, scaladoc included) do not count, nor do blank lines.
Comment markers inside string literals (`"file://x"`) are not comments.
"""
import os
import sys


def code_lines(text):
    """Number of lines of `text` that carry code outside comments."""
    n, i, depth, has_code = 0, 0, 0, False
    quote = None  # None, '"', '"""' or "'"
    size = len(text)
    while i < size:
        c = text[i]
        if c == "\n":
            n += has_code
            has_code = False
            i += 1
            continue
        if depth:
            if text.startswith("*/", i):
                depth -= 1
                i += 2
            elif text.startswith("/*", i):
                depth += 1
                i += 2
            else:
                i += 1
            continue
        if quote:
            has_code = has_code or not c.isspace()
            if quote != '"""' and c == "\\":
                i += 2
            elif text.startswith(quote, i):
                i += len(quote)
                quote = None
            else:
                i += 1
            continue
        if text.startswith("//", i):
            while i < size and text[i] != "\n":
                i += 1
            continue
        if text.startswith("/*", i):
            depth = 1
            i += 2
            continue
        if not c.isspace():
            has_code = True
        if text.startswith('"""', i):
            quote = '"""'
            i += 3
        elif c == '"':
            quote = '"'
            i += 1
        elif c == "'" and i + 2 < size and (text[i + 2] == "'" or text[i + 1] == "\\"):
            quote = "'"  # a char literal; a bare ' is a Scala 2 symbol
            i += 1
        else:
            i += 1
    return n + has_code


def main(argv):
    per_file = "--per-file" in argv
    args = [a for a in argv[1:] if a != "--per-file"]
    root = args[0] if args else "src/main/scala"
    counts = []
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                p = os.path.join(d, f)
                with open(p, encoding="utf-8") as fh:
                    counts.append((p, code_lines(fh.read())))
    if per_file:
        for p, c in sorted(counts, key=lambda pc: -pc[1]):
            print(f"{c:7d}  {p}")
    print(f"{sum(c for _, c in counts)} non-blank, non-comment lines in "
          f"{len(counts)} files under {root}")


if __name__ == "__main__":
    main(sys.argv)
