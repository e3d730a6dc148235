#!/usr/bin/env python3
"""Which queries' DuckDB oracles differ between two Verify dumps.

    python3 tools/oracle_diff.py PARENT CHANGE

PARENT and CHANGE are `oracle_sql.json` files (or the Verify output
directories holding them; `graft.Verify` writes the full map whatever
queries it runs). Each oracle in that file is already normalized:
`SparkEntry.oracleSql` trims every line of the query's SQL and joins
the lines with single spaces, so line breaks and indentation never
show. This tool splits each oracle on whitespace and, for every query
whose tokens differ, prints its name, the index of the first differing
token, that token on both sides and a few tokens of context (or that
the two differ in spacing only). Queries present on one side only are
listed as added or removed. The last line counts the differing
queries; the exit status is 1 if any differ.
"""
import json
import os
import sys

CONTEXT = 6


def load(path):
    if os.path.isdir(path):
        path = os.path.join(path, "oracle_sql.json")
    with open(path) as f:
        return json.load(f)


def first_diff(a, b):
    """Index of the first differing token of two token lists."""
    for i, (x, y) in enumerate(zip(a, b)):
        if x != y:
            return i
    return min(len(a), len(b))


def show(tokens, i):
    lo = max(0, i - CONTEXT)
    pre = " ".join(tokens[lo:i])
    tok = tokens[i] if i < len(tokens) else "<end>"
    post = " ".join(tokens[i + 1:i + 1 + CONTEXT])
    return f"{'... ' if lo else ''}{pre} [{tok}] {post}".strip()


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    parent, change = load(argv[1]), load(argv[2])
    differ = 0
    for name in sorted(set(parent) | set(change)):
        if name not in change:
            print(f"{name}: removed")
        elif name not in parent:
            print(f"{name}: added")
        elif parent[name] != change[name]:
            a, b = parent[name].split(), change[name].split()
            if a == b:
                print(f"{name}: differs in spacing only")
            else:
                i = first_diff(a, b)
                print(f"{name}: first difference at token {i}")
                print(f"  parent: {show(a, i)}")
                print(f"  change: {show(b, i)}")
        else:
            continue
        differ += 1
    print(f"{differ} of {len(set(parent) | set(change))} oracles differ")
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
