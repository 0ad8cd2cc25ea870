"""Output checks: order-insensitive result digests compared with DuckDB.

A result is compared on row count, column names, coarse column type
family and a digest of its values. Values are normalized the way the
repository's oracle gate normalizes them (floats to nine significant
digits, timestamps to microseconds), so the two engines agree exactly
when their answers agree. The digest is a sum of per-row hashes, so it
does not depend on row order and needs no sort of a million-row result.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import numpy as np


def norm(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, dt.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S.%f")
        return s + f"@{v.utcoffset()}" if v.tzinfo is not None else s
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{norm(k)}:{norm(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # a nested Spark Row
        return norm(tuple(v))
    return str(v)


def type_family(t: str) -> str:
    """Coarse family of a Spark or DuckDB type name."""
    t = str(t).lower()
    if "time zone" in t or t == "timestamptz":
        return "timestamptz"
    for prefix, fam in (
        ("timestamp", "timestamp"),
        ("struct", "struct"),
        ("map", "map"),
        ("decimal", "decimal"),
        ("numeric", "decimal"),
        ("interval", "interval"),
        ("bool", "bool"),
    ):
        if t.startswith(prefix):
            return fam
    if t.endswith("[]") or t.startswith(("array", "list")):
        return "list"
    if t in ("blob", "binary", "bytea"):
        return "binary"
    if t in ("double", "float", "real", "float4", "float8"):
        return "float"
    if "int" in t:
        return "int"
    if t in ("varchar", "string", "text", "char"):
        return "string"
    return t


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, elementwise (wrapping uint64 arithmetic)."""
    with np.errstate(over="ignore"):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))


def _column_hashes(values) -> np.ndarray:
    """64-bit hash per value; plain ints take a vectorized path."""
    if values and all(type(v) is int for v in values):
        return _mix(np.array(values, dtype=np.int64).view(np.uint64))
    return np.fromiter(
        (
            int.from_bytes(hashlib.blake2b(norm(v).encode(), digest_size=8).digest(), "little")
            for v in values
        ),
        dtype=np.uint64,
        count=len(values),
    )


def digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: columns in name order, the
    row hashes summed modulo 2**64."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    total = np.uint64(0)
    if rows:
        acc = np.zeros(len(rows), dtype=np.uint64)
        with np.errstate(over="ignore"):
            for rank, i in enumerate(order):
                h = _column_hashes([r[i] for r in rows])
                acc = _mix(acc ^ h) + np.uint64(rank + 1)
            total = acc.sum(dtype=np.uint64)
    return f"{len(rows)}:{int(total):016x}"


def compare(scols, stypes, srows, ocols, otypes, orows) -> list[str]:
    """Problems between an engine result and its oracle; [] when equal."""
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount engine={len(srows)} oracle={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns engine={sorted(scols)} oracle={sorted(ocols)}")
    else:
        for c in scols:
            if type_family(stypes[c]) != type_family(otypes[c]):
                problems.append(f"type[{c}] engine={stypes[c]} oracle={otypes[c]}")
    if not problems:
        ds, do = digest(scols, srows), digest(ocols, orows)
        if ds != do:
            problems.append(f"value digest engine={ds} oracle={do}")
    return problems


def oracle_result(con, sql: str):
    res = con.sql(sql)
    cols = list(res.columns)
    return cols, dict(zip(cols, (str(t) for t in res.types))), res.fetchall()


def self_test() -> bool:
    """A deliberately corrupted result must be reported as a failure,
    and a reordered one must not."""
    cols = ["a", "b", "c"]
    types = {"a": "bigint", "b": "double", "c": "string"}
    rows = [(i, i / 7, f"s{i % 5}") for i in range(2000)]
    same = compare(cols, types, rows[::-1], cols, types, rows) == []
    bad = list(rows)
    bad[1234] = (1234, bad[1234][1] + 1e-3, bad[1234][2])
    caught_value = compare(cols, types, bad, cols, types, rows) != []
    caught_rows = compare(cols, types, rows[:-1], cols, types, rows) != []
    swapped = [(a, b, c) for (a, b, c) in rows]
    swapped[7], swapped[8] = (7, rows[8][1], rows[7][2]), (8, rows[7][1], rows[8][2])
    caught_swap = compare(cols, types, swapped, cols, types, rows) != []
    return same and caught_value and caught_rows and caught_swap
