#!/usr/bin/env python3
"""Find code written more than once: repeated runs of identical lines.

Usage: python3 tools/dup_runs.py [--top N] FILE...

A line counts when, trimmed of surrounding whitespace, it is at least 8
characters long. A run is 4 or more consecutive counted lines inside one
owner, where the owner of a line is the query (`Query("name"` or
`Query.gated("name"`) or the member (`val`/`def` at two-space indent) it
sits in. A run is repeated when the same trimmed lines occur again
anywhere in the given files, in the same or another owner.

Prints, per file, how many of its lines lie in a repeated run, then the
total, then the N largest repeated runs (default 15): each with its
length, how often it occurs, the owners it sits in and its first line.
"""
import argparse
import re
from collections import defaultdict

MIN_RUN = 4
MIN_CHARS = 8
QUERY = re.compile(r'^\s*Query(?:\.gated)?\("([^"]+)"')
MEMBER = re.compile(
    r"^  (?:private(?:\[\w+\])? |override |final )*(?:lazy val|val|def|object|class) ([A-Za-z_][A-Za-z0-9_]*)")


def read(path):
    """(trimmed line or None when too short, owner) per line of `path`."""
    lines, owner = [], "<top>"
    for raw in open(path, encoding="utf-8", errors="replace"):
        m = QUERY.match(raw) or MEMBER.match(raw)
        if m:
            owner = m.group(1)
        s = raw.strip()
        lines.append((s if len(s) >= MIN_CHARS else None, owner))
    return lines


def windows(lines):
    """Start index -> the MIN_RUN counted lines from there, inside one owner."""
    out = {}
    for i in range(len(lines) - MIN_RUN + 1):
        w = lines[i:i + MIN_RUN]
        if all(s is not None for s, _ in w) and len({o for _, o in w}) == 1:
            out[i] = tuple(s for s, _ in w)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--top", type=int, default=15)
    ap.add_argument("files", nargs="+")
    args = ap.parse_args()

    files = {p: read(p) for p in args.files}
    wins = {p: windows(ls) for p, ls in files.items()}
    where = defaultdict(list)  # window text -> [(file, start)]
    for p, ws in wins.items():
        for i, w in ws.items():
            where[w].append((p, i))

    total = 0
    for p, ls in files.items():
        covered = set()
        for i, w in wins[p].items():
            if len(where[w]) > 1:
                covered.update(range(i, i + MIN_RUN))
        total += len(covered)
        print(f"{p}: {len(covered)} of {len(ls)} lines in repeated runs")
    print(f"total: {total} lines in repeated runs")

    # maximal runs: extend each pair of matching window starts that the
    # previous line does not already match, as far as the lines agree
    def same(a, i, b, j):
        (sa, oa), (sb, ob) = files[a][i], files[b][j]
        return sa is not None and sa == sb
    runs = defaultdict(set)  # run text -> {(file, start)}
    for w, occ in where.items():
        if len(occ) < 2:
            continue
        for x in range(len(occ)):
            for y in range(x + 1, len(occ)):
                (a, i), (b, j) = occ[x], occ[y]
                if i > 0 and j > 0 and same(a, i - 1, b, j - 1) and \
                        files[a][i - 1][1] == files[a][i][1] and files[b][j - 1][1] == files[b][j][1]:
                    continue
                n = MIN_RUN
                while i + n < len(files[a]) and j + n < len(files[b]) and same(a, i + n, b, j + n) \
                        and files[a][i + n][1] == files[a][i][1] and files[b][j + n][1] == files[b][j][1]:
                    n += 1
                text = tuple(s for s, _ in files[a][i:i + n])
                runs[text].update({(a, i), (b, j)})
    ranked = sorted(runs.items(), key=lambda kv: (-len(kv[0]), -len(kv[1]), kv[0]))
    print(f"largest repeated runs (lines x occurrences: owners):")
    for text, occ in ranked[:args.top]:
        owners = sorted({files[p][i][1] for p, i in occ})
        print(f"  {len(text)} x {len(occ)}: {', '.join(owners)}")
        print(f"      {text[0][:100]}")


if __name__ == "__main__":
    main()
