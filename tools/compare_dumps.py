#!/usr/bin/env python3
"""Compare two graft.Verify output directories query by query.

Usage: python3 tools/compare_dumps.py A B

Each query directory holds the parquet dump of one battery query. A
query without an ORDER BY may dump its rows in any order (the order can
depend on what ran earlier in the same JVM), so rows are compared as
multisets. Each query is reported as one of:

    identical    same columns, same rows in the same order
    reordered    same columns, same rows (with multiplicity) in another order
    different    columns, types or the row multiset differ
    missing      the query was dumped on one side only

Exit status is 0 when no query is `different` or `missing`, 1 otherwise.
"""
import collections
import glob
import os
import sys

import pyarrow.parquet as pq


def queries(root):
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def load(root, name):
    """(schema, rows) of one dump: part files in name order, rows as
    canonical strings, so NaN equals NaN and nested values hash."""
    parts = sorted(glob.glob(os.path.join(root, name, "*.parquet")))
    tables = [pq.read_table(p) for p in parts]
    if not tables:
        return None, []
    schema = [(f.name, str(f.type)) for f in tables[0].schema]
    rows = [repr(tuple(r.values())) for t in tables for r in t.to_pylist()]
    return schema, rows


def compare(a, b, name):
    sa, ra = load(a, name)
    sb, rb = load(b, name)
    if sa != sb:
        return "different", f"schema {sa} vs {sb}"
    if ra == rb:
        return "identical", f"{len(ra)} rows"
    ca, cb = collections.Counter(ra), collections.Counter(rb)
    if ca == cb:
        return "reordered", f"{len(ra)} rows"
    only_a, only_b = ca - cb, cb - ca
    return "different", (f"{len(ra)} vs {len(rb)} rows; "
                         f"{sum(only_a.values())} only in A, {sum(only_b.values())} only in B; "
                         f"first only in A: {next(iter(only_a), None)}")


def main(a, b):
    qa, qb = queries(a), queries(b)
    counts = collections.Counter()
    for name in sorted(qa | qb):
        if name not in qa or name not in qb:
            verdict, why = "missing", f"only in {'A' if name in qa else 'B'}"
        else:
            verdict, why = compare(a, b, name)
        counts[verdict] += 1
        print(f"{verdict:<10} {name} ({why})")
    print("== " + ", ".join(f"{counts[k]} {k}" for k in
                            ("identical", "reordered", "different", "missing")) + " ==")
    return 0 if counts["different"] == 0 and counts["missing"] == 0 else 1


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
