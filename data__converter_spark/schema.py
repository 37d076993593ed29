"""Schema normalization + stringify-at-the-edge helpers.

The reference app is dynamically typed: every dataset's column set is
the key-union over its rows, missing fields print as ``''``, and all
values degrade to strings at the serialization edge
(ref: components/FileUploader.tsx:42-46,148-149,168 and
app/(contents)/compare/page.tsx:384-394 ``printable``).

Here we keep typed columns internally (parquet/Catalyst native) and
apply these semantics only at explicit boundaries:

- :func:`printable_col` — canonical string form of any column
  (null -> '', struct/array/map -> JSON, timestamp -> 'yyyy-MM-dd HH:mm:ss',
  double -> fixed-scale decimal string when ``scale`` given).
- :func:`union_by_name` — key-union of N DataFrames (missing col -> NULL).
- :func:`flatten` — nested structs to dotted top-level columns, matching
  the reference's XML flattener (app/(contents)/random/page.tsx:159-166).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

TIMESTAMP_FMT = "yyyy-MM-dd HH:mm:ss"


def printable_col(
    df_or_schema, name: str, scale: int | None = None, alias: str | None = None
) -> Column:
    """Canonical string form of column ``name`` (W3 'printable' semantics).

    null -> '' ; timestamps formatted ; doubles rendered at fixed
    ``scale`` via decimal cast (so Spark and SQL oracles agree on the
    text form) ; complex types -> JSON ; everything else plain cast.
    """
    schema = df_or_schema.schema if isinstance(df_or_schema, DataFrame) else df_or_schema
    dtype = schema[name].dataType
    # Backtick-quote so literal dots in names (flattened XML paths,
    # SURVEY §1.3) resolve as top-level columns, not struct access.
    c = F.col(f"`{name}`")
    if isinstance(dtype, T.TimestampType):
        s = F.date_format(c, TIMESTAMP_FMT)
    elif isinstance(dtype, T.DateType):
        s = F.date_format(c, "yyyy-MM-dd")
    elif isinstance(dtype, (T.DoubleType, T.FloatType)) and scale is not None:
        s = c.cast(T.DecimalType(38, scale)).cast("string")
    elif isinstance(dtype, (T.StructType, T.ArrayType, T.MapType)):
        s = F.to_json(c)
    else:
        s = c.cast("string")
    return F.coalesce(s, F.lit("")).alias(alias or name)


def stringify_all(df: DataFrame, scale: int | None = None) -> DataFrame:
    """Project every column to its printable string form (edge writer prep)."""
    return df.select(*[printable_col(df, n, scale=scale) for n in df.columns])


def union_by_name(dfs: list[DataFrame]) -> DataFrame:
    """Row-union of DataFrames with key-union schema; missing cols -> NULL.

    The Spark-native version of the reference's per-row key-union
    (FileUploader.tsx:42-46). One narrow pass, no shuffle.
    """
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def _flatten_cols(schema: T.StructType, prefix: str = "") -> list[Column]:
    cols: list[Column] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, T.StructType):
            cols.extend(
                _flatten_cols(f.dataType, prefix=f"{path}.")
            )
        else:
            cols.append(F.col(f"`{path}`" if "." not in path else path).alias(path))
    return cols


def flatten(df: DataFrame) -> DataFrame:
    """Flatten nested structs into dotted top-level column names.

    ``{"a": {"b": 1}}`` -> column ``a.b`` — reproducing the reference's
    XML/JSON flattener (random/page.tsx:159-166) on Spark structs.
    Arrays are left intact (the reference never had arrays-in-cells).
    """
    return df.select(*_flatten_cols(df.schema))

