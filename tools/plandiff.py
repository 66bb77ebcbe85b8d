#!/usr/bin/env python3
"""Name the gates whose plans differ between two PlanDump outputs.

  python3 tools/plandiff.py <dumpA> <dumpB>

Each dump is the stdout of a no-argument `graft.PlanDump` (ids already
masked). Both are split at their `========== <gate> ==========` headers;
a gate present in only one dump, or whose plan text differs, is printed
one per line. The last line is the number of such gates. Exits 0.
"""
import re
import sys


def gates(path):
    with open(path) as f:
        parts = re.split(r"^========== (\S+) ==========$", f.read(),
                         flags=re.M)
    return dict(zip(parts[1::2], parts[2::2]))


def main():
    a, b = gates(sys.argv[1]), gates(sys.argv[2])
    moved = sorted(g for g in a.keys() | b.keys() if a.get(g) != b.get(g))
    for g in moved:
        print(g)
    print(f"{len(moved)} gates differ")


if __name__ == "__main__":
    main()
