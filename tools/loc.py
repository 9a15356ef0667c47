#!/usr/bin/env python3
"""Code lines per file and in total, comments and blank lines stripped.

    tools/loc.py <path> [<path> ...]

A path may be a file or a directory (searched recursively for .scala and
.java files). A line counts when anything other than whitespace is left
after removing `//` line comments and `/* ... */` block comments
(scaladoc included). Comment markers inside string literals are taken as
literal text: "//" and "/*" in a string do not start a comment.
"""
import os
import sys

EXTS = (".scala", ".java")


def files_of(paths):
    out = []
    for p in paths:
        if os.path.isdir(p):
            for d, _, fs in os.walk(p):
                out += [os.path.join(d, f) for f in fs if f.endswith(EXTS)]
        else:
            out.append(p)
    return sorted(out)


def code_lines(text):
    """Lines with code left once comments are removed."""
    n = 0
    depth = 0  # nesting of /* */ (Scala block comments nest)
    for line in text.splitlines():
        code = []
        i = 0
        in_str = False
        while i < len(line):
            two = line[i:i + 2]
            if depth > 0:
                if two == "/*":
                    depth += 1
                    i += 2
                elif two == "*/":
                    depth -= 1
                    i += 2
                else:
                    i += 1
                continue
            c = line[i]
            if in_str:
                code.append(c)
                if c == "\\":
                    code.append(line[i + 1:i + 2])
                    i += 2
                    continue
                if c == '"':
                    in_str = False
                i += 1
            elif two == "//":
                break
            elif two == "/*":
                depth += 1
                i += 2
            else:
                if c == '"':
                    in_str = True
                code.append(c)
                i += 1
        if "".join(code).strip():
            n += 1
    return n


def main(argv):
    if not argv:
        sys.stderr.write(__doc__)
        return 2
    total = 0
    for f in files_of(argv):
        with open(f, encoding="utf-8") as fh:
            n = code_lines(fh.read())
        total += n
        print(f"{n:>7}  {f}")
    print(f"{total:>7}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
