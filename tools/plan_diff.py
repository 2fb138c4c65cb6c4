#!/usr/bin/env python3
"""Diff two `graft.PlanDump` output directories.

Usage: python3 tools/plan_diff.py DIR_A DIR_B [--show]

PlanDump writes one `<entry>_<suffix>.txt` per battery entry. Entries are
matched by name across the two directories (each directory's common
`_<suffix>` is stripped, so `before` and `after` dumps pair up). Before
comparing, every plan is normalized:

  - expression ids (`#123`, `#123L`) become `#N`;
  - `plan_id=123` becomes `plan_id=N`;
  - RDD ids in scan names (`MapPartitionsRDD[123]`) become `[N]`;
  - source lines in RDD call sites (`at Similarity.scala:166`) become
    `.scala:N`, so moving the code that built a checkpoint is no difference.

The entries whose normalized plans differ are printed, with a unified diff
when `--show` is given, followed by the entries present on one side only
and a count. The exit status is 1 when any entry differs or is unpaired.
Standard library only.
"""
import difflib
import os
import re
import sys

_EXPR_ID = re.compile(r"#\d+L?\b")
_PLAN_ID = re.compile(r"plan_id=\d+")
_RDD_ID = re.compile(r"RDD\[\d+\]")
_SRC_LINE = re.compile(r"\.scala:\d+")


def normalize(text):
    text = _EXPR_ID.sub("#N", text)
    text = _PLAN_ID.sub("plan_id=N", text)
    text = _RDD_ID.sub("RDD[N]", text)
    return _SRC_LINE.sub(".scala:N", text)


def entries(directory):
    """Map entry name -> path, stripping the directory's common suffix."""
    names = sorted(f[:-4] for f in os.listdir(directory) if f.endswith(".txt"))
    suffixes = {n.rsplit("_", 1)[-1] for n in names if "_" in n}
    strip = len(suffixes) == 1 and all("_" in n for n in names)
    out = {}
    for n in names:
        key = n.rsplit("_", 1)[0] if strip else n
        out[key] = os.path.join(directory, n + ".txt")
    return out


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    show = "--show" in argv
    if len(args) != 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = entries(args[0]), entries(args[1])
    differ = []
    for name in sorted(set(a) & set(b)):
        with open(a[name], encoding="utf-8") as fa, open(b[name], encoding="utf-8") as fb:
            pa, pb = normalize(fa.read()), normalize(fb.read())
        if pa != pb:
            differ.append(name)
            print(f"DIFFERS {name}")
            if show:
                sys.stdout.writelines(difflib.unified_diff(
                    pa.splitlines(True), pb.splitlines(True),
                    fromfile=a[name], tofile=b[name]))
    only = [(n, args[0]) for n in sorted(set(a) - set(b))] + \
           [(n, args[1]) for n in sorted(set(b) - set(a))]
    for name, side in only:
        print(f"ONLY-IN {side} {name}")
    same = len(set(a) & set(b)) - len(differ)
    print(f"{same} identical, {len(differ)} differ, {len(only)} unpaired")
    return 1 if differ or only else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
