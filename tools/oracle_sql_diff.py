#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps (query name -> DuckDB SQL).

Usage: oracle_sql_diff.py <before.json> <after.json>

Prints the key count of each dump, then every added, removed and changed
key. Exits 1 if any key differs, 0 if the two dumps are equal.
"""
import json
import sys


def main(before_path, after_path):
    with open(before_path) as f:
        before = json.load(f)
    with open(after_path) as f:
        after = json.load(f)
    print(f"keys: {len(before)} before, {len(after)} after")
    diffs = [("added", k) for k in sorted(after.keys() - before.keys())]
    diffs += [("removed", k) for k in sorted(before.keys() - after.keys())]
    diffs += [("changed", k) for k in sorted(before.keys() & after.keys())
              if before[k] != after[k]]
    for kind, key in diffs:
        print(f"{kind} {key}")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
