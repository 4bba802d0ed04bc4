#!/usr/bin/env python3
"""Full-precision content hash per query of a graft.Verify dump.

    python3 tools/board_hash.py <outDir> > hashes.txt
    python3 tools/board_hash.py <parentDir> <changeDir>

With one directory, prints one line per query directory under it: the
query name, its row count and an md5 over its rows. With two, prints only
the queries whose row count or hash differs, or that exist on one side
only, and exits 1 if there is any such query, else 0. Columns are taken in name order, rows
are sorted, and values are serialized without rounding (floats by their
shortest round-trip repr, binary as hex, nested arrays/structs/maps
recursively), so two dumps of the same board diff line by line: a float
that moves in its last bit changes the hash. This is the check for a
change meant to keep every output byte; tools/check_oracle.py instead
compares against DuckDB with floats rounded to 9 digits.
"""
import datetime
import decimal
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def canon(v):
    if isinstance(v, float):
        return repr(v)  # keeps nan/inf/-0.0 and every bit of the mantissa
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (decimal.Decimal, datetime.date, datetime.datetime,
                      datetime.time, datetime.timedelta)):
        return str(v)
    if isinstance(v, dict):
        return {k: canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return v


def query_hash(path):
    table = pq.read_table(path)
    table = table.select(sorted(table.column_names))
    rows = sorted(json.dumps([canon(v) for v in row.values()], sort_keys=True)
                  for row in table.to_pylist())
    h = hashlib.md5()
    h.update(json.dumps(table.column_names).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def board(out):
    """{query name: "rows md5"} of every query directory under out."""
    hashes = {}
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        if not os.path.isdir(path):
            continue
        if not any(f.endswith(".parquet") for f in os.listdir(path)):
            hashes[name] = "NO_PARQUET"
            continue
        n, digest = query_hash(path)
        hashes[name] = f"{n} {digest}"
    return hashes


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit("usage: board_hash.py <outDir> | board_hash.py <parentDir> <changeDir>")
    if len(sys.argv) == 2:
        for name, h in board(sys.argv[1]).items():
            print(f"{name} {h}")
        return
    parent, change = board(sys.argv[1]), board(sys.argv[2])
    differing = [q for q in sorted(parent.keys() | change.keys()) if parent.get(q) != change.get(q)]
    for q in differing:
        print(f"{q} {parent.get(q, 'MISSING')} | {change.get(q, 'MISSING')}")
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
