#!/usr/bin/env python3
"""Compare two ETL output trees part file by part file.

Usage: python3 scripts/etl_diff.py <tree_a> <tree_b>

A tree is any directory holding job outputs, e.g. the `out` directory of
the four jobs (`cases_time/`, `clinical/`, `research/`, `radiography/`)
or one job's output directory. Every directory that holds `part-*` files
is one output. The two trees must have the same outputs, and each output
the same number of part files with byte-identical contents. Part files
are paired by their part index, because their names carry a per-write
UUID. Checksums, `_SUCCESS` markers and `clinical/temporary.parquet`
(parquet metadata differs from run to run) are not compared.

Prints one line per difference and a summary line; exits 1 on any
difference, 2 on bad usage, 0 when the trees are identical.
"""
import os
import sys

SKIPPED = "temporary.parquet"


def outputs(root):
    """Relative output dir -> its part file paths, sorted by part index."""
    found = {}
    for d, subdirs, files in os.walk(root):
        if os.path.basename(d) == SKIPPED:
            subdirs[:] = []
            continue
        parts = sorted(f for f in files if f.startswith("part-"))
        if parts:
            found[os.path.relpath(d, root)] = [os.path.join(d, f) for f in parts]
    return found


def part_index(path):
    """`part-00000-<uuid>-c000.json` -> `part-00000` plus the suffix."""
    name = os.path.basename(path)
    pieces = name.split("-")
    return pieces[0] + "-" + pieces[1] + "." + name.rsplit(".", 1)[-1]


def read(path):
    with open(path, "rb") as f:
        return f.read()


def diff(a, b):
    """Differences between trees `a` and `b`, and the number of part files compared."""
    out_a, out_b = outputs(a), outputs(b)
    problems = [f"only in {a}: {o}" for o in sorted(out_a.keys() - out_b.keys())]
    problems += [f"only in {b}: {o}" for o in sorted(out_b.keys() - out_a.keys())]
    compared = 0
    for o in sorted(out_a.keys() & out_b.keys()):
        pa, pb = out_a[o], out_b[o]
        if [part_index(p) for p in pa] != [part_index(p) for p in pb]:
            problems.append(f"{o}: part files differ ({len(pa)} vs {len(pb)})")
            continue
        for x, y in zip(pa, pb):
            compared += 1
            if read(x) != read(y):
                problems.append(f"{o}/{part_index(x)}: contents differ")
    return problems, compared


def main(argv):
    if len(argv) != 3 or not all(os.path.isdir(d) for d in argv[1:]):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    problems, compared = diff(argv[1], argv[2])
    for p in problems:
        print(p)
    if problems:
        print(f"etl_diff: {len(problems)} difference(s); {compared} part files compared")
        return 1
    print(f"etl_diff: identical; {compared} part files in {len(outputs(argv[1]))} outputs")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
