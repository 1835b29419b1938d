"""Vectorized pandas UDFs (Arrow-batched).

NOTE: no ``from __future__ import annotations`` here — pandas_udf
resolves real type hints to infer its execution mode.
"""

import pandas as pd

from pyspark.sql.functions import pandas_udf


def distinct_key_join(df, key_col, out_col, mapper, drop_key=True):
    """Map a Python function over the DISTINCT values of a key column
    and broadcast-join the result back — the shared shape behind every
    FARM_FINGERPRINT/base32 id generator (facet ids, generated SV
    dcids): the Python cost scales with KEY cardinality, not row
    cardinality, and the join is a broadcast.

    ``key_col``: a column NAME (joined on directly; dropped afterwards
    when ``drop_key``) or a Column EXPRESSION (materialized under a
    temp name that is always dropped). ``mapper``: str -> str; None
    keys pass through as None.
    """
    from pyspark.sql import functions as F

    @pandas_udf("string")
    def _m(keys: pd.Series) -> pd.Series:
        return keys.map(lambda k: mapper(k) if isinstance(k, str) else None)

    if isinstance(key_col, str):
        keys = df.select(key_col).distinct().withColumn(out_col, _m(F.col(key_col)))
        joined = df.join(F.broadcast(keys), key_col)
        return joined.drop(key_col) if drop_key else joined

    tagged = df.withColumn("_dk_key", key_col)
    keys = tagged.select("_dk_key").distinct().withColumn(out_col, _m(F.col("_dk_key")))
    return tagged.join(F.broadcast(keys), "_dk_key").drop("_dk_key")
