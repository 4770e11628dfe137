#!/usr/bin/env python3
"""Compare two graft.Explain dumps query by query.

Usage: python3 tools/explain_diff.py A B

A and B are the saved stdout of `graft.Explain <sfDir> [names...]`: one
`========== name ==========` section per query. Before comparing, each
section is normalized so that only the plan's shape counts:
  - expression ids (`#123`) and `plan_id=123` are dropped;
  - lambda class suffixes (`$Lambda$123/0x7f...@1a2b`) are dropped;
  - the numbering of higher-order-function variables (`lambda x_12`) and
    of RDDs (`MapPartitionsRDD[731]`) is dropped: both count up across
    the JVM, so they depend on what ran before;
  - `<File>.scala:<line>` call sites are dropped;
  - the owner `graft.SparkEntry` and any family object
    `graft.queries.<Family>` read as the same name, so a query that moved
    between files compares equal.

Names each query whose plan differs (or is in one dump only) and exits 1
on any difference, 0 otherwise.
"""
import re
import sys

HEADER = re.compile(r"^========== (.+) ==========$")
NORMALIZE = [
    (re.compile(r"\$Lambda(\$\d+)?/0x[0-9a-f]+(@[0-9a-f]+)?"), "$Lambda"),
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"\blambda ([A-Za-z]\w*?)_\d+\b"), r"lambda \1"),
    (re.compile(r"\b([A-Za-z]*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"\b[A-Za-z0-9_]+\.scala:\d+"), "<site>"),
    (re.compile(r"\bgraft\.(SparkEntry|queries\.[A-Z][A-Za-z0-9_]*)\b"), "graft.<owner>"),
]


def sections(path):
    """Query name -> normalized plan lines, in dump order."""
    out, name = {}, None
    for line in open(path, encoding="utf-8", errors="replace"):
        m = HEADER.match(line.rstrip("\n"))
        if m:
            name = m.group(1)
            out[name] = []
        elif name is not None:
            for pat, rep in NORMALIZE:
                line = pat.sub(rep, line)
            out[name].append(line.rstrip())
    return out


def main(a, b):
    sa, sb = sections(a), sections(b)
    diffs = [f"{n}: only in {'A' if n in sa else 'B'}" for n in sorted(sa.keys() ^ sb.keys())]
    diffs += [f"{n}: plan differs" for n in sorted(sa.keys() & sb.keys()) if sa[n] != sb[n]]
    for d in diffs:
        print(d)
    print(f"{len(sa.keys() & sb.keys())} plans compared, {len(diffs)} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
