"""DuckDB oracle: runs a query's `oracleSql` on the same parquet inputs and
fingerprints the result exactly as perfbench/src/.../Fingerprint.scala
fingerprints the Spark result (canonical row rendering, MD5 per row,
order-insensitive sum and xor)."""
import datetime
import decimal
import hashlib
import os
import struct

import duckdb

MASK = (1 << 64) - 1


def render(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:true" if v else "b:false"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        bits = 0x7FF8000000000000 if v != v else struct.unpack(">q", struct.pack(">d", v))[0]
        return f"f:{bits}"
    if isinstance(v, decimal.Decimal):
        return "d:0" if v == 0 else "d:" + format(v.normalize(), "f")
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        return "t:" + (s + f".{v.microsecond:06d}" if v.microsecond else s)
    if isinstance(v, datetime.date):
        return "D:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(render(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    return "o:" + str(v)


def fingerprint(columns, rows):
    """(sorted column names, 'rows:sum:xor') of a result."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    n = total = xor = 0
    for r in rows:
        line = "\u0001".join(render(r[i]) for i in order).encode("utf-8")
        h = int.from_bytes(hashlib.md5(line).digest()[:8], "big")
        n += 1
        total = (total + h) & MASK
        xor ^= h
    return sorted(columns), f"{n}:{total:016x}:{xor:016x}"


def connect(data_dir):
    """A DuckDB connection with every table in data_dir as a view."""
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(data_dir, name)
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name[:-len('.parquet')]} AS SELECT * FROM read_parquet('{src}')")
    return con


def check(data_dir, oracle_sql, fingerprints):
    """Compares each query's Spark fingerprint with its oracle's. Returns
    {query: mismatch message} for the queries that differ."""
    con = connect(data_dir)
    bad = {}
    for q, sql in sorted(oracle_sql.items()):
        got = fingerprints.get(q)
        if got is None:
            bad[q] = "no Spark result to compare"
            continue
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            exp_cols, exp_rows = fingerprint(cols, cur.fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            bad[q] = f"oracle failed: {e}"
            continue
        if exp_cols != got["columns"]:
            bad[q] = f"columns {got['columns']} != oracle {exp_cols}"
        elif exp_rows != got["rows"]:
            bad[q] = f"rows:sum:xor {got['rows']} != oracle {exp_rows}"
    return bad
