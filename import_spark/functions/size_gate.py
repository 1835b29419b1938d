"""Shared BYTE gates for driver-collect and broadcast fast paths.

Row-count gates alone mislead: 5M rows of 20-byte locals is 100 MB
(fine to collect/broadcast), 5M rows of 10 KB literals is 50 GB (OOM).
The reference's analogues are capacity-bounded caches
(ExternalIdResolver's in-memory maps, LogWrapper's capped samples), so
every fast path here gates on exact BYTES alongside its row cap.

One shape: ``exact_size`` — one count+bytes aggregate — then, when the
frame fits, at most one Arrow collect (``collect_within``). A broadcast
gate reads the same aggregate and collects nothing; a map already on
the driver is sized by ``pandas_bytes`` under the same per-cell rule,
with no job at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fixed per-cell overhead (object headers, offsets) added per column
_CELL_OVERHEAD = 8

# budgets for the two fast-path classes (conservative against a
# multi-GB driver / 64 MB-default broadcast world; both overridable
# per call)
DRIVER_COLLECT_BUDGET_BYTES = 512 * 1024 * 1024
BROADCAST_BUDGET_BYTES = 256 * 1024 * 1024


def _width_expr(field: T.StructField):
    dt = field.dataType
    c = F.col(field.name)
    if isinstance(dt, T.StringType):
        w = F.length(c)
    elif isinstance(dt, (T.ArrayType, T.MapType, T.StructType, T.BinaryType)):
        # serialize-to-string length is a serviceable proxy for nested
        w = F.length(c.cast("string"))
    elif isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType)):
        w = F.lit(8)
    else:
        w = F.lit(4)
    return F.coalesce(w, F.lit(0)) + F.lit(_CELL_OVERHEAD)


def row_bytes(schema: T.StructType):
    """Per-row byte width of ``schema`` as a column expression."""
    total = None
    for f in schema.fields:
        e = _width_expr(f)
        total = e if total is None else total + e
    return total


def exact_size(df: DataFrame) -> tuple[int, int]:
    """(rows, bytes) of ``df`` from one exact aggregate. The width is a
    projection, which the optimizer pushes below a ``limit``: sizing
    ``df.limit(n)`` moves one integer per row, not the row."""
    row = (
        df.select(row_bytes(df.schema).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("b"))
        .collect()[0]
    )
    return int(row["n"]), int(row["b"] or 0)


def collect_within(
    df: DataFrame,
    budget_bytes: int,
    max_rows: int | None = None,
    size: tuple[int, int] | None = None,
):
    """Arrow-collect ``df`` as pandas when its exact size fits both the
    byte budget and the optional row cap; None otherwise (the caller
    takes its distributed path). With ``max_rows`` the aggregate sizes
    ``df.limit(max_rows + 1)``, so a frame over the cap stops early.
    ``size`` reuses an ``exact_size`` result the caller already holds."""
    if size is None:
        size = exact_size(df if max_rows is None else df.limit(max_rows + 1))
    rows, nbytes = size
    if nbytes > budget_bytes or (max_rows is not None and rows > max_rows):
        return None
    return df.toPandas()


def pandas_bytes(pdf) -> int:
    """Byte width of a driver pandas frame of string columns, by the
    same per-cell rule as ``row_bytes`` — sizes a driver-built map for
    a broadcast gate without a probe job."""
    return int(
        sum(pdf[c].str.len().fillna(0).sum() for c in pdf.columns)
        + _CELL_OVERHEAD * pdf.size
    )


def fits_bytes(df: DataFrame, n_rows: int, budget_bytes: int) -> bool:
    """True when ``df``'s exact bytes (``exact_size``) fit the budget.
    ``n_rows`` is a row count the caller already holds: an empty frame
    fits and more rows than budget bytes cannot, without a job."""
    if n_rows <= 0:
        return True
    if n_rows > budget_bytes:  # >1 byte/row minimum: cheap early out
        return False
    return exact_size(df)[1] <= budget_bytes
