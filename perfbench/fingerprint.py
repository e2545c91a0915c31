"""Order-independent content fingerprints of landed parquet relations.

A relation's fingerprint is the sum, modulo 2**64, of one 64-bit hash
per row, so it does not depend on row order or file layout. A row hashes
its columns in name order; doubles are rounded to 9 significant digits
first, so summation-order noise in the last bits of an aggregate does
not change the result. Nested values are rendered recursively; map
entries are sorted by key.
"""
import datetime as dt
import decimal
import hashlib
import math

import pyarrow.parquet as pq

MASK = (1 << 64) - 1


def canon(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        r = float(f"{v:.9g}")
        return repr(0.0 if r == 0 else r)
    if isinstance(v, (int, str)):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, list):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            return "m{" + ",".join(sorted(f"{canon(k)}:{canon(x)}" for k, x in v)) + "}"
        return "[" + ",".join(canon(x) for x in v) + "]"
    return repr(v)


def row_hash(text):
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "little")


def fingerprint(path, exclude=()):
    """(rows, hex fingerprint) of the parquet relation at `path`, without
    the `exclude` columns."""
    return table_fingerprint(pq.read_table(path), exclude)


def table_fingerprint(table, exclude=()):
    cols = sorted(c for c in table.column_names if c not in exclude)
    data = [table.column(c).to_pylist() for c in cols]
    total = 0
    for i in range(table.num_rows):
        total = (total + row_hash("\x1f".join(canon(col[i]) for col in data))) & MASK
    return table.num_rows, f"{total:016x}"


def column_fingerprints(path):
    """Per-column fingerprints, to name the columns that differ."""
    table = pq.read_table(path)
    return {c: table_fingerprint(table.select([c]))[1] for c in table.column_names}
