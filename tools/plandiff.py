#!/usr/bin/env python3
"""Name the gates whose plan facts or counts differ between two census files.

  python3 tools/plandiff.py <censusA.jsonl> <censusB.jsonl>

Each file is the stdout of `graft.GateCensus`: one JSON line per gate.
For every gate present in only one file, or whose `plan`, `dump_sort`,
`windows`, `eager_jobs`, `jobs`, `shuffle_bytes` or `error` differ, one
line `<gate> <field>[,<field>...]` is printed (`missing` for a gate in
only one file). Seconds are ignored: they vary from run to run. The
last line is the number of such gates. Exits 0.
"""
import json
import sys

FIELDS = ("plan", "dump_sort", "windows", "eager_jobs", "jobs",
          "shuffle_bytes", "error")


def census(path):
    with open(path) as f:
        recs = (json.loads(line) for line in f if line.startswith("{"))
        return {r["gate"]: r for r in recs}


def main():
    a, b = census(sys.argv[1]), census(sys.argv[2])
    moved = 0
    for g in sorted(a.keys() | b.keys()):
        if g not in a or g not in b:
            fields = ["missing"]
        else:
            fields = [f for f in FIELDS if a[g].get(f) != b[g].get(f)]
        if fields:
            moved += 1
            print(g, ",".join(fields))
    print(f"{moved} gates differ")


if __name__ == "__main__":
    main()
