#!/usr/bin/env python3
"""Duplicated-window census over Scala sources: how much code is a copy
of other code, the number ROADMAP item 7 tracks from change to change.

A window is six consecutive code lines whose text (each line stripped,
joined by newlines) is at least 150 characters long. Blank lines,
comment lines (`//`, `/* ... */`, scaladoc `*` lines) and `|` SQL margin
lines are not code lines. A window text found at two or more places is
one duplicated window; the lines it covers at every place are counted
once each.

Usage: dup_census.py [srcDir] [-v]
  e.g. dup_census.py src/main/scala      (the default directory)
       dup_census.py src/main/scala -v   (also list each window and file)

Prints "<windows> windows <occurrences> occurrences <lines> lines".
Reformatting a copy so that it no longer matches is not a reduction:
the census counts text, not ideas.
"""
import collections
import os
import sys

WIDTH = 6
MIN_CHARS = 150


def code_lines(path):
    """(line number, stripped text) of each code line of one file."""
    out, in_block = [], False
    with open(path, encoding="utf-8") as f:
        for n, raw in enumerate(f, 1):
            s = raw.strip()
            if in_block:
                in_block = "*/" not in s
                continue
            if not s or s.startswith(("//", "*", "|")):
                continue
            if s.startswith("/*"):
                in_block = "*/" not in s
                continue
            out.append((n, s))
    return out


def census(root):
    """window text -> [(path, [line numbers])] for every repeated window."""
    windows = collections.defaultdict(list)
    for d, _, files in os.walk(root):
        for name in sorted(files):
            if not name.endswith(".scala"):
                continue
            path = os.path.join(d, name)
            lines = code_lines(path)
            for k in range(len(lines) - WIDTH + 1):
                chunk = lines[k:k + WIDTH]
                text = "\n".join(s for _, s in chunk)
                if len(text) - (WIDTH - 1) >= MIN_CHARS:
                    windows[text].append((path, [n for n, _ in chunk]))
    return {t: locs for t, locs in windows.items() if len(locs) > 1}


def main(argv):
    verbose = "-v" in argv
    args = [a for a in argv if a != "-v"]
    dup = census(args[0] if args else "src/main/scala")
    covered = {(p, n) for locs in dup.values() for p, ns in locs for n in ns}
    print(f"{len(dup)} windows {sum(len(v) for v in dup.values())} "
          f"occurrences {len(covered)} lines")
    if verbose:
        per_file = collections.Counter(p for p, _ in covered)
        for path, n in per_file.most_common():
            print(f"{n:5d} {path}")
        for text, locs in dup.items():
            print("---", ", ".join(f"{os.path.basename(p)}:{ns[0]}" for p, ns in locs))
            print(text)


if __name__ == "__main__":
    main(sys.argv[1:])
