"""Correctness gate: canonical result tables and DuckDB references.

Both engines' results arrive as pyarrow tables and are reduced to the
same canonical form: columns sorted by name, every number as float64,
timestamps as naive UTC microseconds, rows sorted (floats rounded to 6
decimals in the sort key). A result matches its reference when the
column names and row counts agree and every float is within ``1e-6 +
1e-9 * |ref|`` (the tolerance of ``scripts/verify_local.py``), or, in
a column the query's ``oracle_sql`` rounds to d decimals, differs by
exactly 10**-d (a rounding tie broken the other way, see
``rounded_columns``). The engine-neutral checksum is a digest of the
canonical rows with floats at 6 decimals.

References are computed by replaying each query's ``oracle_sql`` on the
generated parquet files and cached under the inputs' digest, so a seed
pays for DuckDB once per checkout.
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

ABS_TOL, REL_TOL = 1e-6, 1e-9
KEEP_REFS = 12  # cached reference sets kept per checkout


def _column(arr: pa.ChunkedArray) -> pa.ChunkedArray:
    t = arr.type
    if (pa.types.is_integer(t) or pa.types.is_floating(t)
            or pa.types.is_decimal(t) or pa.types.is_boolean(t)):
        return arr.cast(pa.float64())
    if pa.types.is_timestamp(t):
        if t.tz is None:
            return arr.cast(pa.timestamp("us"))
        return pc.local_timestamp(arr.cast(pa.timestamp("us", tz="UTC")))
    if pa.types.is_large_string(t):
        return arr.cast(pa.string())
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        v = t.value_type
        if pa.types.is_integer(v) or pa.types.is_floating(v):
            return arr.cast(pa.list_(pa.float64()))
    return arr


def _sort_key(arr: pa.ChunkedArray) -> pa.ChunkedArray:
    if pa.types.is_floating(arr.type):
        return pc.round(arr, 6)
    if pa.types.is_nested(arr.type):
        return pa.chunked_array([pa.array([str(v) for v in arr.to_pylist()],
                                          pa.string())])
    return arr


def canonical(table: pa.Table) -> pa.Table:
    """Columns sorted by name, canonical types, rows sorted."""
    cols = sorted(table.column_names)
    data = [_column(table.column(c)) for c in cols]
    out = pa.table(data, names=cols)
    if not cols or table.num_rows == 0:
        return out
    keys = pa.table([_sort_key(a) for a in data],
                    names=[f"k{i}" for i in range(len(cols))])
    order = pc.sort_indices(keys, sort_keys=[(f"k{i}", "ascending")
                                             for i in range(len(cols))],
                            null_placement="at_start")
    return out.take(order)


def checksum(canon: pa.Table) -> str:
    """Digest of the canonical table's Arrow IPC bytes, floats rounded
    to 6 decimals (both engines' results share the canonical schema)."""
    cols = [pc.round(a, 6) if pa.types.is_floating(a.type) else a
            for a in canon.columns]
    table = pa.table(cols, names=canon.column_names).combine_chunks()
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return hashlib.sha1(sink.getvalue()).hexdigest()[:16]


# ROUND(<expr>, <d>)[::<type>] AS <name>, the expression directly aliased
_ROUNDED = re.compile(r"\bROUND\(.*?,\s*(\d+)\s*\)(?:::\w+)?\s+AS\s+(\w+)",
                      re.IGNORECASE | re.DOTALL)


def rounded_columns(sql: str) -> dict[str, int]:
    """{column: d} for the result columns ``sql`` rounds to d decimals.
    The queries round doubles on both engines, and Spark (exact binary
    value) and DuckDB (scaled product) break an exact .5 tie in opposite
    directions, so these columns may differ by one unit in the d-th
    decimal; every other column keeps the strict tolerance."""
    return {name: int(d) for d, name in _ROUNDED.findall(sql or "")}


def _tie(a: float, b: float, d: int | None) -> bool:
    return d is not None and abs(abs(a - b) - 10.0 ** -d) <= 10.0 ** -(d + 3)


def _close(u, v) -> bool:
    if isinstance(u, float) and isinstance(v, float):
        return (u != u and v != v) or abs(u - v) <= ABS_TOL + REL_TOL * abs(v)
    if isinstance(u, list) and isinstance(v, list):
        return len(u) == len(v) and all(_close(x, y) for x, y in zip(u, v))
    return u == v


def _first_float_mismatch(a: pa.ChunkedArray, b: pa.ChunkedArray,
                          d: int | None):
    x = a.to_numpy().astype(float)
    y = b.to_numpy().astype(float)
    ok = (np.isnan(x) & np.isnan(y)) | (
        np.abs(x - y) <= ABS_TOL + REL_TOL * np.abs(y))
    return next((int(i) for i in np.flatnonzero(~ok)
                 if not _tie(x[i], y[i], d)), None)


def mismatch(got: pa.Table, ref: pa.Table,
             rounded: dict[str, int]) -> str | None:
    """None when ``got`` matches ``ref``, else the first difference;
    ``rounded`` is the query's ``rounded_columns``."""
    if got.column_names != ref.column_names:
        return f"columns {got.column_names} vs {ref.column_names}"
    if got.num_rows != ref.num_rows:
        return f"rows {got.num_rows} vs {ref.num_rows}"
    for name, a, b in zip(got.column_names, got.columns, ref.columns):
        if a.equals(b):
            continue
        if pa.types.is_floating(a.type) and pa.types.is_floating(b.type):
            i = _first_float_mismatch(a, b, rounded.get(name))
        else:
            i = next((k for k, (u, v) in enumerate(zip(a.to_pylist(),
                                                        b.to_pylist()))
                      if not _close(u, v)), None)
        if i is not None:
            return f"column {name} row {i}: {a[i]} vs {b[i]}"
    return None


def input_digest(data_dir: Path) -> str:
    h = hashlib.sha256()
    for f in sorted(data_dir.glob("*.parquet")):
        h.update(f.name.encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:20]


def references(data_dir: Path, sqls: dict[str, str], cache_dir: Path,
               tables: list[str]) -> dict[str, pa.Table]:
    """{query: canonical DuckDB result} for ``sqls`` on ``data_dir``."""
    import duckdb

    key = hashlib.sha256(
        (input_digest(data_dir) + json.dumps(sqls, sort_keys=True)).encode()
    ).hexdigest()[:20]
    path = cache_dir / key
    if (path / "done").exists():
        refs = {}
        for q in sqls:
            with pa.OSFile(str(path / f"{q}.arrow")) as src:
                refs[q] = pa.ipc.open_file(src).read_all()
        return refs
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{data_dir / t}.parquet'")
        refs = {q: canonical(con.sql(sql).arrow()) for q, sql in sqls.items()}
    finally:
        con.close()
    tmp = cache_dir / f".{key}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    for q, t in refs.items():
        with pa.OSFile(str(tmp / f"{q}.arrow"), "wb") as sink:
            with pa.ipc.new_file(sink, t.schema) as writer:
                writer.write_table(t)
    (tmp / "done").write_text("")
    shutil.rmtree(path, ignore_errors=True)
    tmp.rename(path)
    sets = sorted((p for p in cache_dir.iterdir()
                   if not p.name.startswith(".")),
                  key=lambda p: p.stat().st_mtime)
    for old in sets[:-KEEP_REFS]:
        shutil.rmtree(old, ignore_errors=True)
    return refs
