"""Oracle side of the benchmark: turn a fetched result into canonical rows
and compare it with DuckDB.

Both sides go through ``harness.oracle.canon_rows`` (order-insensitive
multiset, floats to 6 significant digits, sorted column names). NaN and
NULL are folded together on both sides, because ``toPandas()`` renders a
NULL in a numeric column as NaN.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from harness.oracle import canon_rows

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _py(v):
    """One pandas/NumPy cell as a plain Python value, NULL/NaN as None."""
    if v is None or v is pd.NaT or v is pd.NA:
        return None
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)) and not hasattr(v, "asDict"):
        return [_py(x) for x in v]
    if isinstance(v, dict):
        return {k: _py(x) for k, x in v.items()}
    if hasattr(v, "asDict"):
        return {k: _py(x) for k, x in v.asDict().items()}
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, np.datetime64):
        return pd.Timestamp(v).to_pydatetime()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def pandas_rows(pdf: pd.DataFrame, schema: T.StructType | None) -> list[tuple]:
    """Rows of a ``toPandas()`` frame as Python tuples.

    Integral Spark columns come back as float64 when they hold NULLs;
    ``schema`` (the DataFrame's Spark schema) restores them to ints."""
    integral = [
        schema is not None
        and i < len(schema.fields)
        and isinstance(schema.fields[i].dataType, _INTEGRAL)
        for i in range(pdf.shape[1])
    ]
    cols = [pdf.iloc[:, i].tolist() for i in range(pdf.shape[1])]
    out = []
    for r in range(pdf.shape[0]):
        row = []
        for i, col in enumerate(cols):
            v = _py(col[r])
            if integral[i] and isinstance(v, float):
                v = int(v)
            row.append(v)
        out.append(tuple(row))
    return out


def duck_rows(rows) -> list[tuple]:
    """DuckDB ``fetchall()`` rows with NaN folded into None."""
    return [tuple(_py(v) for v in r) for r in rows]


def digest(rows: list[tuple], colnames: list[str]) -> tuple[int, str]:
    """(row count, hash of the canonical multiset): compare two results
    without keeping either in memory."""
    canon = canon_rows(rows, colnames)
    return len(canon), hashlib.sha1(repr(canon).encode()).hexdigest()


def frame_digest(pdf: pd.DataFrame, schema) -> tuple[int, str]:
    return digest(pandas_rows(pdf, schema), [str(c) for c in pdf.columns])


def duck_digest(rel) -> tuple[int, str]:
    """Digest of an executed DuckDB cursor/relation."""
    cols = [d[0] for d in rel.description]
    return digest(duck_rows(rel.fetchall()), cols)
