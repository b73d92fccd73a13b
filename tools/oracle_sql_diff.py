#!/usr/bin/env python3
"""Compare two oracle_sql.json dumps query by query, up to whitespace.

Usage: python3 tools/oracle_sql_diff.py A/oracle_sql.json B/oracle_sql.json

Each side is the oracle_sql.json that graft.Verify writes (query name ->
DuckDB SQL). Whitespace is normalized outside string literals before the
compare: runs collapse to one space, and a space beside a parenthesis or
a comma is dropped (SQL never reads either). A refactor of how the SQL
text is assembled so reads as no change, while any other edit, inside a
literal too, is a difference. Prints each query that differs (with the
first differing position) or that is present on one side only, and exits
1 if there is any; 0 otherwise.
"""
import json
import re
import sys


LITERAL = re.compile(r"('(?:[^']|'')*')")


def norm(sql: str) -> str:
    parts = LITERAL.split(sql)
    for i in range(0, len(parts), 2):  # even parts lie outside literals
        p = re.sub(r"\s+", " ", parts[i])
        parts[i] = re.sub(r" ?([(),]) ?", r"\1", p)
    return "".join(parts).strip()


def first_diff(a: str, b: str) -> int:
    n = min(len(a), len(b))
    return next((i for i in range(n) if a[i] != b[i]), n)


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().splitlines()[2])
    a, b = (json.load(open(p)) for p in sys.argv[1:3])
    bad = 0
    for name in sorted(a.keys() | b.keys()):
        if name not in b:
            print(f"{name}: only in {sys.argv[1]}")
        elif name not in a:
            print(f"{name}: only in {sys.argv[2]}")
        else:
            x, y = norm(a[name]), norm(b[name])
            if x == y:
                continue
            i = first_diff(x, y)
            print(f"{name}: differs at char {i}\n"
                  f"  A: ...{x[max(0, i - 60):i + 60]}\n"
                  f"  B: ...{y[max(0, i - 60):i + 60]}")
        bad += 1
    total = len(a.keys() | b.keys())
    print(f"{bad} of {total} queries differ")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
