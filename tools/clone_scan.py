#!/usr/bin/env python3
"""Count the source lines that sit in a repeated block of Scala code.

Usage (from the repo root, no flags):

    python3 tools/clone_scan.py

Scans every `.scala` file under `src/main` and prints, per file, the
number of lines covered by a clone, in two columns:

  spark  Scala code only: lines inside triple-quoted strings (the DuckDB
         oracle SQL) are left out before windows are formed.
  all    every line, the SQL strings included.

The parameters are fixed here so that two runs on two trees compare:

  - each line has its whitespace collapsed to single spaces;
  - blank lines and lines that start with `//` or `*` are skipped;
  - a window is 6 consecutive kept lines of one file;
  - a window counts when its text is at least 150 characters long and the
    same text occurs more than once anywhere in the scan (in the same file
    or another);
  - a line is covered when any counting window contains it.

Files with no covered line in either column are not printed; the last
row is the total.
"""
import collections
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(ROOT, "src", "main")
WINDOW = 6
MIN_CHARS = 150


def kept_lines(path, spark):
    """(line number, collapsed text) of the lines a window may hold."""
    out = []
    in_str = False
    with open(path, encoding="utf-8") as f:
        for no, raw in enumerate(f, 1):
            quotes = raw.count('"""')
            in_sql = in_str or quotes > 0
            if quotes % 2:
                in_str = not in_str
            if spark and in_sql:
                continue
            text = " ".join(raw.split())
            if not text or text.startswith("//") or text.startswith("*"):
                continue
            out.append((no, text))
    return out


def covered(files, spark):
    """{file: number of covered lines}."""
    seen = collections.defaultdict(list)
    for rel, path in files:
        lines = kept_lines(path, spark)
        for k in range(len(lines) - WINDOW + 1):
            win = lines[k:k + WINDOW]
            text = "\n".join(t for _, t in win)
            if len(text) >= MIN_CHARS:
                seen[text].append((rel, [no for no, _ in win]))
    hit = collections.defaultdict(set)
    for occurrences in seen.values():
        if len(occurrences) > 1:
            for rel, nos in occurrences:
                hit[rel].update(nos)
    return {rel: len(nos) for rel, nos in hit.items()}


def main():
    files = []
    for d, _, names in os.walk(SRC):
        for n in names:
            if n.endswith(".scala"):
                p = os.path.join(d, n)
                files.append((os.path.relpath(p, ROOT), p))
    files.sort()
    spark = covered(files, True)
    every = covered(files, False)
    rows = sorted(set(spark) | set(every),
                  key=lambda r: (-spark.get(r, 0), -every.get(r, 0), r))
    width = max([len(r) for r in rows] + [5])
    print(f"{'file':<{width}}  {'spark':>6}  {'all':>6}")
    for r in rows:
        print(f"{r:<{width}}  {spark.get(r, 0):>6}  {every.get(r, 0):>6}")
    print(f"{'total':<{width}}  {sum(spark.values()):>6}  {sum(every.values()):>6}")


if __name__ == "__main__":
    main()
