#!/usr/bin/env python3
"""Line counts of the engine sources, the figures CHANGES.md tracks.

Counts every src/main/**/*.scala file three ways: all lines, non-blank
non-comment lines, and the code lines with the `catch` keyword (the
decode-failure sites ROADMAP item 1 tracks). A line is a comment line
when, stripped, it starts with `//`, or it lies in a `/* ... */` block
(scaladoc included) from the line that opens the block to the line that
closes it. A line with code before a trailing comment counts as code.
The gen/ and oracle/ packages are test infrastructure and are also
reported on their own; extra file or directory arguments are reported
one per line.

Usage: python3 tools/loc.py [path ...]
"""
import pathlib
import re
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
MAIN = ROOT / "src" / "main" / "scala"
CATCH = re.compile(r"\bcatch\b")


def count(path):
    """(total lines, non-blank non-comment lines, code lines with
    `catch`) of one file."""
    total = code = catches = 0
    in_block = False
    for line in path.read_text(encoding="utf-8").splitlines():
        total += 1
        s = line.strip()
        if in_block:
            in_block = "*/" not in s
        elif s.startswith("/*"):
            in_block = "*/" not in s[2:]
        elif s and not s.startswith("//"):
            code += 1
            catches += bool(CATCH.search(s))
    return total, code, catches


def tally(paths):
    t = c = k = 0
    for p in paths:
        a, b, n = count(p)
        t += a
        c += b
        k += n
    return t, c, k


def scala_files(p):
    return [p] if p.is_file() else sorted(p.rglob("*.scala"))


def main(args):
    every = scala_files(MAIN)
    infra = [p for p in every
             if p.relative_to(MAIN).parts[:2] in (("graft", "gen"), ("graft", "oracle"))]
    rows = [("src/main", tally(every)), ("gen/ + oracle/", tally(infra))]
    for a in args:
        p = pathlib.Path(a).resolve()
        rows.append((a, tally(scala_files(p))))
    width = max(len(name) for name, _ in rows)
    print(f"{'':{width}}  {'lines':>7}  {'code':>7}  {'catch':>5}")
    for name, (t, c, k) in rows:
        print(f"{name:{width}}  {t:>7,}  {c:>7,}  {k:>5,}")


if __name__ == "__main__":
    main(sys.argv[1:])
