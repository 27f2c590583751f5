#!/usr/bin/env python3
"""Compare two graft.Verify oracle dumps (oracle_sql.json).

    python3 tools/oraclediff.py A/oracle_sql.json B/oracle_sql.json

Each query's SQL is compared after collapsing every whitespace run to
one space (and trimming the ends), so re-indented or re-wrapped SQL
compares equal. Prints each query name whose SQL differs, or that
exists on one side only, and exits 1 if there is any; otherwise
prints the number of identical queries and exits 0.
"""
import json
import re
import sys


def load(path):
    with open(path, encoding="utf-8") as f:
        return {k: re.sub(r"\s+", " ", v).strip() for k, v in json.load(f).items()}


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    bad = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b:
            print(f"{name}: only in {argv[1]}")
        elif name not in a:
            print(f"{name}: only in {argv[2]}")
        elif a[name] != b[name]:
            print(f"{name}: differs")
        else:
            continue
        bad += 1
    if bad:
        print(f"{bad} differ")
        return 1
    print(f"{len(a)} identical")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
