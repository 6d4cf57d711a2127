"""Output checks: a row count and an order-insensitive content hash per
table or query result, compared with values stored in ``expected.json``.

The hash is a sum, modulo 2**64, of one 64-bit digest per row, so row order
does not matter; the column names and Arrow types are hashed too. Floats are
rounded to 12 significant digits, far below any result's precision but
above last-bit differences in summation order.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, float):
        if v != v:
            return "nan"
        return "0" if v == 0 else f"{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return format(v.normalize(), "f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return repr(v)


def digest(table: pa.Table) -> list:
    """``[rows, hash]`` of an Arrow table."""
    acc = 0
    for row in table.to_pylist():
        line = "\x1f".join(_canon(row[c]) for c in table.column_names)
        acc += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "little")
    schema = ",".join(f"{f.name}:{f.type}" for f in table.schema)
    acc += int.from_bytes(hashlib.blake2b(schema.encode(), digest_size=8).digest(), "little")
    return [table.num_rows, f"{acc % 2**64:016x}"]


def parquet_digest(path: str) -> list:
    """Digest of a directory of parquet part files, as Spark writes them."""
    return digest(pq.read_table(path))


def load_expected() -> dict:
    if not os.path.exists(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f)


def expected_for(scale: str, workload: str, input_seed: int) -> dict[str, list]:
    """Stored digests for one input set, or an empty dict if none are stored."""
    return load_expected().get(scale, {}).get(workload, {}).get(str(input_seed), {})
