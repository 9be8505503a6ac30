"""An order-insensitive table checksum computed two ways: by Spark over what
the engine returns, and by numpy over the input the benchmark generated.

Per column the checksum is one sum: integers as they are, booleans as 0/1,
doubles as ``cast(x * 1000 as bigint)``, strings as their UTF-8 crc32,
timestamps in whole seconds and float lists as the sum of
``cast(x * 1e6 as bigint)`` over their items.  Both sides do the same IEEE
operations, so the sums agree exactly; nulls are skipped on both sides.
"""

from __future__ import annotations

import zlib

import numpy as np
import pyarrow as pa


def _spark_term(name: str, dtype: str):
    from pyspark.sql import functions as F

    c = F.col(f"`{name}`")
    if dtype in ("bigint", "int", "smallint", "tinyint"):
        return c.cast("bigint")
    if dtype == "boolean":
        return c.cast("bigint")
    if dtype in ("double", "float"):
        return (c.cast("double") * F.lit(1000.0)).cast("bigint")
    if dtype == "string":
        return F.crc32(c.cast("binary"))
    if dtype.startswith("timestamp"):
        return F.expr(f"unix_micros(cast(`{name}` as timestamp)) div 1000000")
    if dtype in ("array<float>", "array<double>"):
        return F.expr(
            f"aggregate(`{name}`, 0L, (a, x) -> a + cast(cast(x as double) * 1000000D as bigint))"
        )
    raise TypeError(f"no checksum term for {name}: {dtype}")


def spark_checksum(df) -> tuple:
    """(row count, per-column sums) of a Spark DataFrame, as one aggregate."""
    from pyspark.sql import functions as F

    terms = [F.sum(_spark_term(n, t)).alias(f"s{i}") for i, (n, t) in enumerate(df.dtypes)]
    row = df.agg(F.count(F.lit(1)).alias("n"), *terms).collect()[0]
    return tuple(int(v) if v is not None else None for v in row)


def _arrow_term(arr: pa.ChunkedArray):
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    valid = arr.drop_null()
    if len(valid) == 0:
        return None
    t = arr.type
    if pa.types.is_integer(t) or pa.types.is_boolean(t):
        return int(valid.to_numpy(zero_copy_only=False).astype(np.int64).sum())
    if pa.types.is_floating(t):
        v = valid.to_numpy(zero_copy_only=False).astype(np.float64)
        return int((v * 1000.0).astype(np.int64).sum())
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return sum(zlib.crc32(s.encode()) for s in valid.to_pylist())
    if pa.types.is_timestamp(t):
        us = valid.cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
        return int((us // 1_000_000).sum())
    if pa.types.is_list(t) and pa.types.is_floating(t.value_type):
        v = valid.flatten().drop_null().to_numpy().astype(np.float64)
        return int((v * 1_000_000.0).astype(np.int64).sum())
    raise TypeError(f"no checksum term for {t}")


def arrow_checksum(table: pa.Table) -> tuple:
    """The same tuple as :func:`spark_checksum`, over a pyarrow table."""
    return (table.num_rows, *(_arrow_term(table.column(i)) for i in range(table.num_columns)))
