#!/usr/bin/env python3
"""Count non-blank, non-comment Scala lines.

    python3 scripts/sloc.py DIR [DIR ...]

Prints, for each DIR, one line per .scala file under it (count, then path
relative to DIR) and its total; given more than one DIR, a grand total
follows. A line does not count when it is blank, when it holds only a
`//` comment, or when it lies wholly inside a `/* ... */` block
(scaladoc included). A line that mixes code and a comment counts.
String literals are not parsed: a `//` or `/*` inside a string on a code
line does not change that line's count, but an unclosed `/*` inside a
string would open a block.
"""

import os
import sys


def count(path):
    n = 0
    in_block = False
    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.strip()
            code = False
            i = 0
            while i < len(line):
                if in_block:
                    end = line.find("*/", i)
                    if end < 0:
                        i = len(line)
                    else:
                        in_block = False
                        i = end + 2
                    continue
                if line.startswith("//", i):
                    break
                if line.startswith("/*", i):
                    in_block = True
                    i += 2
                    continue
                if not line[i].isspace():
                    code = True
                i += 1
            if code:
                n += 1
    return n


def tally(root):
    """Print the counts under `root` and return their total."""
    total = 0
    for d, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                c = count(p)
                total += c
                print(f"{c:6d}  {os.path.relpath(p, root)}")
    print(f"{total:6d}  total")
    return total


def main(argv):
    roots = argv[1:]
    if not roots or not all(os.path.isdir(r) for r in roots):
        sys.exit(__doc__.strip())
    if len(roots) == 1:
        tally(roots[0])
        return
    grand = 0
    for r in roots:
        print(r)
        grand += tally(r)
    print(f"{grand:6d}  grand total")


if __name__ == "__main__":
    main(sys.argv)
