#!/usr/bin/env python3
"""Full-precision content hash per query of a graft.Verify dump.

    python3 tools/board_hash.py <outDir> > hashes.txt

Prints one line per query directory under <outDir>: the query name, its
row count and an md5 over its rows. Columns are taken in name order, rows
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


def main():
    if len(sys.argv) != 2:
        sys.exit("usage: board_hash.py <outDir>")
    out = sys.argv[1]
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        if not os.path.isdir(path):
            continue
        if not any(f.endswith(".parquet") for f in os.listdir(path)):
            print(f"{name} NO_PARQUET")
            continue
        n, digest = query_hash(path)
        print(f"{name} {n} {digest}")


if __name__ == "__main__":
    main()
