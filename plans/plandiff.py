#!/usr/bin/env python3
"""Diff two directories of `explain("formatted")` plans, ignoring run noise.

    python3 plans/plandiff.py BEFORE_DIR AFTER_DIR [--names-only]

BEFORE_DIR and AFTER_DIR hold one `<gate>.txt` per query, as written by
`runMain graft.BenchExtra explain <sfDir> <cpus> <outDir> [nameRegex]`.
Before comparing, each plan is masked:

- expression ids (`docId#1234L`, `score#88`) become `#N`;
- lambda class names and identity hashes
  (`$$Lambda$1234/0x000000080123abcd@5e1b7f0a`, `...@1a2b3c4d`) lose their numbers;
- `plan_id=NNN` becomes `plan_id=N`;
- RDD ids and source line numbers (`MapPartitionsRDD[433] at map at
  SegmentStore.scala:1139`) become `RDD[N]` and `.scala:L`;
- numbered temp-dir names (`graft-segidx15753271457362258039`) lose their numbers.

Prints the gates present on one side only, then a unified diff of every gate
whose masked plan changed, then one summary line. Exit status: 0 when the
two dirs match, 1 when they differ (like diff(1)).
"""

import difflib
import os
import re
import sys

MASKS = [
    (re.compile(r"#\d+L?\b"), "#N"),
    (re.compile(r"\$\$Lambda\$?\d*/0x[0-9a-f]+"), "$$Lambda"),
    (re.compile(r"\$Lambda\$\d+/\d+"), "$$Lambda"),
    (re.compile(r"@[0-9a-f]{4,}\b"), "@H"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:L"),
    (re.compile(r"([A-Za-z_-])\d{6,}"), r"\1<N>"),
]


def masked(path):
    with open(path, encoding="utf-8") as f:
        text = f.read()
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text.splitlines(keepends=True)


def plans(d):
    return {n[:-4] for n in os.listdir(d) if n.endswith(".txt")}


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    names_only = "--names-only" in argv
    if len(args) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = args
    b, a = plans(before), plans(after)
    for n in sorted(b - a):
        print(f"only in {before}: {n}")
    for n in sorted(a - b):
        print(f"only in {after}: {n}")
    changed = []
    for n in sorted(a & b):
        x = masked(os.path.join(before, n + ".txt"))
        y = masked(os.path.join(after, n + ".txt"))
        if x != y:
            changed.append(n)
            if not names_only:
                sys.stdout.writelines(
                    difflib.unified_diff(x, y, f"{before}/{n}.txt", f"{after}/{n}.txt"))
    print(f"== {len(a & b)} compared, {len(changed)} changed: {' '.join(changed) or '-'}")
    return 1 if changed or a != b else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
