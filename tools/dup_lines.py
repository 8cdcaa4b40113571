"""Count the duplicated code lines of a source tree.

Usage: python tools/dup_lines.py [root] (default: grouper_spark)

Each ``.py`` file under ``root`` is read as its non-blank, non-comment
lines, stripped of indentation. A line is duplicated when it lies in a
10-line window of those lines that occurs twice or more anywhere in the
tree. Prints the total, the largest files' shares and the longest
duplicated runs (in stripped lines, with the file and first line).
"""

from __future__ import annotations

import sys
from collections import defaultdict
from pathlib import Path

WINDOW = 10


def code_lines(path):
    """(line number, stripped text) of each non-blank, non-comment line."""
    out = []
    for i, raw in enumerate(path.read_text().splitlines(), 1):
        s = raw.strip()
        if s and not s.startswith("#"):
            out.append((i, s))
    return out


def scan(root):
    """(files, marked): each file's code lines, and the indices into them
    that lie in a repeated window."""
    files = {p: code_lines(p) for p in sorted(Path(root).rglob("*.py"))}
    seen = defaultdict(list)
    for p, lines in files.items():
        for j in range(len(lines) - WINDOW + 1):
            seen[tuple(s for _, s in lines[j : j + WINDOW])].append((p, j))
    marked = defaultdict(set)
    for occ in seen.values():
        if len(occ) > 1:
            for p, j in occ:
                marked[p].update(range(j, j + WINDOW))
    return files, marked


def runs(files, marked):
    """(length, path, first line) of each maximal duplicated run."""
    out = []
    for p, idx in marked.items():
        idx = sorted(idx)
        start = prev = idx[0]
        for x in idx[1:] + [None]:
            if x == prev + 1:
                prev = x
                continue
            out.append((prev - start + 1, p, files[p][start][0]))
            start = prev = x
    return sorted(out, key=lambda r: (-r[0], str(r[1]), r[2]))


def main(argv):
    root = argv[1] if len(argv) > 1 else "grouper_spark"
    files, marked = scan(root)
    print(f"duplicated lines: {sum(map(len, marked.values()))}")
    for p, idx in sorted(marked.items(), key=lambda kv: (-len(kv[1]), str(kv[0])))[:8]:
        print(f"  {len(idx):6d}  {p}")
    print("longest runs:")
    for n, p, line in runs(files, marked)[:5]:
        print(f"  {n:6d}  {p}:{line}")


if __name__ == "__main__":
    main(sys.argv)
