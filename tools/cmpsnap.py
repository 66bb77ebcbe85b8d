#!/usr/bin/env python3
"""Compare the committed snapshots of two BagJob output roots.

  python3 tools/cmpsnap.py <outA> <outB>

Every table dir under either root (`.old` and `.staging` dirs skipped) is
read with pyarrow and compared on its sorted rows and its arrow schema,
field and schema metadata included (Spark keeps a column's metadata, such
as a geometry's `srid`/`geom_type`, in the parquet schema metadata). Prints
one line per table and the number of differences; exits 1 if there are any.
"""
import json
import os
import sys

import pyarrow.parquet as pq


def tables(root):
    return {d for d in os.listdir(root)
            if os.path.isdir(os.path.join(root, d))
            and not d.endswith((".old", ".staging"))}


def rows(table):
    return sorted(json.dumps(r, sort_keys=True, default=str) for r in table.to_pylist())


def compare(a, b):
    """The differences between the snapshots at `a` and `b`, as lines, and
    the row count of `a`."""
    ta, tb = pq.read_table(a), pq.read_table(b)
    diffs = []
    if not ta.schema.equals(tb.schema, check_metadata=True):
        diffs.append(f"schema differs:\n  {ta.schema}\n  {tb.schema}".replace("\n", "\n    "))
    ra, rb = rows(ta), rows(tb)
    if ra != rb:
        diffs.append(f"rows differ: {len(ra)} vs {len(rb)} rows, "
                     f"{len(set(ra) ^ set(rb))} distinct rows on one side only")
    return diffs, len(ra)


def main(argv):
    if len(argv) != 3:
        sys.exit("usage: cmpsnap.py <outA> <outB>")
    a, b = argv[1], argv[2]
    differences = 0
    for t in sorted(tables(a) | tables(b)):
        missing = [r for r in (a, b) if not os.path.isdir(os.path.join(r, t))]
        diffs, n = (([f"absent from {r}" for r in missing], 0) if missing
                    else compare(os.path.join(a, t), os.path.join(b, t)))
        differences += len(diffs)
        if diffs:
            print(f"✗ {t}: " + "; ".join(diffs))
        else:
            print(f"✓ {t}: {n} rows")
    print(f"{differences} differences")
    return 1 if differences else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
