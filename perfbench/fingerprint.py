"""Order-independent content fingerprints and referential checks.

A fingerprint is ``<rows>:<digest>``. The digest folds two 64/32-bit row
hashes by summation, so it ignores row order and partitioning but counts
duplicates. Columns are hashed in name order after casting to string
(arrays sorted, maps as sorted entry lists), so it also ignores column order
and the int/long or nullability drift a parquet round trip can introduce.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType

_NULL = "\u0000null"


def _canon(c: Column, t: DataType) -> Column:
    if isinstance(t, MapType):
        c = F.array_sort(F.map_entries(c))
    elif isinstance(t, ArrayType) and not isinstance(t.elementType, MapType):
        c = F.array_sort(c)
    return F.coalesce(c.cast("string"), F.lit(_NULL))


def fingerprint(df: DataFrame, columns: list[str] | None = None) -> str:
    cols = sorted(columns or df.columns)
    types = {f.name: f.dataType for f in df.schema.fields}
    canon = [_canon(F.col(c), types[c]) for c in cols]
    row = (
        df.select(F.xxhash64(*canon).alias("a"), F.hash(*canon).alias("b"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("b").cast("decimal(38,0)")).alias("sb"),
        )
        .collect()[0]
    )
    digest = hashlib.md5(f"{','.join(cols)}|{row['sa']}|{row['sb']}".encode()).hexdigest()
    return f"{row['n']}:{digest[:16]}"


def rows_of(fp: str) -> int:
    return int(fp.split(":", 1)[0])


def dangling(child: DataFrame, key: str, parent: DataFrame, parent_key: str = "uuid") -> int:
    """Rows of ``child`` whose non-null ``key`` is not a ``parent`` key."""
    keys = parent.select(F.col(parent_key).alias(key)).distinct()
    return child.filter(F.col(key).isNotNull()).join(keys, key, "left_anti").count()
