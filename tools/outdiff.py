#!/usr/bin/env python3
"""Compare two graft.Verify output directories key by key.

Usage: python3 tools/outdiff.py <parent_out> <change_out>

For every result directory (one per query key) in either output, it
compares the Arrow schema of the parquet result — column names, types
and nullability, in order — and the multiset of row bytes: each row is
encoded canonically (floats by their exact hex, type-tagged values) and
the encoded rows are sorted, so row order inside the files is ignored.
tools/check.py compares str()-normalized values against the oracle and
passes an INT -> BIGINT drift; this catches it.

Prints one line per key that differs or is missing on one side and
exits 1 if there is any; prints the count of identical keys and exits 0
otherwise.
"""
import datetime
import decimal
import glob
import os
import struct
import sys

import pyarrow.parquet as pq


def keys(out_dir):
    return {n for n in os.listdir(out_dir) if os.path.isdir(os.path.join(out_dir, n))}


def read(out_dir, key):
    files = sorted(glob.glob(os.path.join(out_dir, key, "*.parquet")))
    tables = [pq.read_table(f) for f in files]
    schema = tables[0].schema if tables else None
    rows = [r for t in tables for r in t.to_pylist()]
    return schema, rows


def schema_of(schema):
    if schema is None:
        return None
    return [(f.name, str(f.type), f.nullable) for f in schema]


def enc(v):
    """Type-tagged, length-prefixed bytes of one value."""
    if v is None:
        return b"N"
    if isinstance(v, bool):
        return b"B1" if v else b"B0"
    if isinstance(v, int):
        body, tag = str(v).encode(), b"I"
    elif isinstance(v, float):
        body, tag = struct.pack(">d", v), b"F"
    elif isinstance(v, str):
        body, tag = v.encode("utf-8"), b"S"
    elif isinstance(v, (bytes, bytearray)):
        body, tag = bytes(v), b"Y"
    elif isinstance(v, dict):
        body, tag = b"".join(enc(k) + enc(x) for k, x in v.items()), b"D"
    elif isinstance(v, (list, tuple)):
        body, tag = b"".join(enc(x) for x in v), b"L"
    elif isinstance(v, (datetime.date, datetime.datetime, datetime.time,
                        datetime.timedelta, decimal.Decimal)):
        body, tag = repr(v).encode(), b"T"
    else:
        raise TypeError(f"unhandled value type {type(v).__name__}: {v!r}")
    return tag + struct.pack(">I", len(body)) + body


def diff_key(a_dir, b_dir, key):
    a_schema, a_rows = read(a_dir, key)
    b_schema, b_rows = read(b_dir, key)
    if schema_of(a_schema) != schema_of(b_schema):
        return f"schema {schema_of(a_schema)} != {schema_of(b_schema)}"
    if len(a_rows) != len(b_rows):
        return f"rows {len(a_rows)} != {len(b_rows)}"
    names = [f.name for f in a_schema] if a_schema is not None else []
    row = lambda r: b"".join(enc(r[n]) for n in names)
    if sorted(map(row, a_rows)) != sorted(map(row, b_rows)):
        return "row bytes differ"
    return None


def main(a_dir, b_dir):
    a, b = keys(a_dir), keys(b_dir)
    bad = 0
    for key in sorted(a | b):
        if key not in b:
            print(f"[MISSING] {key}: only in {a_dir}")
        elif key not in a:
            print(f"[MISSING] {key}: only in {b_dir}")
        else:
            why = diff_key(a_dir, b_dir, key)
            if why is None:
                continue
            print(f"[DIFF] {key}: {why}")
        bad += 1
    print(f"{len(a | b) - bad} identical, {bad} differing or missing")
    return 1 if bad else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
