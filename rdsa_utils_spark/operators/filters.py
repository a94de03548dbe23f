"""Filter / recode operators.

Capability parity (re-designed with explicit null semantics — the
reference's three-valued-logic traps are documented in SURVEY.md §7.4):
- ``filter_out_values`` — reference ``rdsa_utils/helpers/pyspark.py:1698-1791``.
- ``set_nulls`` — reference ``helpers/pyspark.py:1434-1477`` (its
  ``F.when(col != v)`` accidentally relies on NULL propagation; ours
  uses ``isin`` with an explicit null guard).
- ``map_column_values`` — reference ``helpers/pyspark.py:1553-1601``.
- ``map_column_names`` — reference ``helpers/pyspark.py:235-243``.

All are narrow transformations; predicates push down to the scan.
"""

from __future__ import annotations

from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _require_columns(df: DataFrame, cols: Sequence[str], op: str) -> None:
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"{op}: columns not in dataframe: {missing}")


def map_column_names(df: DataFrame, mapper: Mapping[str, str]) -> DataFrame:
    """Rename columns via mapping; absent keys pass through unchanged."""
    return df.select(*[F.col(c).alias(mapper.get(c, c)) for c in df.columns])


def filter_out_values(
    df: DataFrame,
    column: str,
    values_to_exclude: Sequence[object],
    keep_nulls: bool = True,
) -> DataFrame:
    """Drop rows whose ``column`` is in ``values_to_exclude``.

    Three-valued logic handled explicitly: ``~isin`` evaluates to NULL
    for NULL inputs (row silently dropped), so NULL retention is an
    explicit toggle rather than an accident.
    """
    _require_columns(df, [column], "filter_out_values")
    col = F.col(column)
    predicate = ~col.isin(list(values_to_exclude))
    if keep_nulls:
        predicate = predicate | col.isNull()
    return df.filter(predicate)


def set_nulls(
    df: DataFrame,
    column: str,
    values: Sequence[object],
) -> DataFrame:
    """Replace listed values in ``column`` with NULL, leaving existing
    NULLs and other values untouched."""
    _require_columns(df, [column], "set_nulls")
    col = F.col(column)
    return df.withColumn(
        column,
        F.when(col.isin(list(values)), F.lit(None)).otherwise(col),
    )


def map_column_values(
    df: DataFrame,
    mapping: Mapping[object, object],
    input_col: str,
    output_col: str | None = None,
) -> DataFrame:
    """Recode values via dict; unmapped values fall back to the input.

    Implementation: ``F.create_map`` literal map + ``getItem`` +
    ``coalesce`` — a single JVM-side expression (codegen'd), never a
    Python UDF. For very large mappings (>~10k entries) prefer a
    broadcast-join against a mapping DataFrame; this literal form is
    for the reference's small-recode use case.
    """
    _require_columns(df, [input_col], "map_column_values")
    output_col = output_col or input_col
    literal_map = F.create_map(
        *[F.lit(x) for kv in mapping.items() for x in kv],
    )
    return df.withColumn(
        output_col,
        F.coalesce(literal_map[F.col(input_col)], F.col(input_col)),
    )


def impute_nulls(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    strategy: str = "mean",
    out_col: Optional[str] = None,
    round_to: int = 6,
) -> DataFrame:
    """Fill NULLs in ``value_col`` with a per-group statistic of the
    observed values: ``mean``, ``median`` (exact interpolated
    percentile), or ``mode`` (most frequent, smallest value on tie —
    deterministic). With no ``group_cols`` the statistic is global
    (broadcast 1-row attach).

    One aggregation over the non-null values per group (mode adds a
    rank window over the (group, value) count table — already
    reduced data), one broadcast-sized join back, one ``coalesce``.
    Groups with NO observed values leave their NULLs in place.
    """
    if strategy not in ("mean", "median", "mode"):
        raise ValueError(f"strategy must be mean|median|mode, got {strategy!r}")
    out = out_col or value_col
    group_cols = list(group_cols)
    v = F.col(value_col).cast("double")
    nn = df.filter(v.isNotNull())
    if strategy == "mean":
        stats = nn.groupBy(*group_cols).agg(
            F.round(F.avg(v), round_to).alias("__fill"),
        )
    elif strategy == "median":
        stats = nn.groupBy(*group_cols).agg(
            F.round(F.percentile(v, F.lit(0.5)), round_to).alias("__fill"),
        )
    else:
        counts = nn.groupBy(*group_cols, v.alias("__v")).agg(
            F.count(F.lit(1)).alias("__n"),
        )
        w = Window.partitionBy(
            *[F.col(c) for c in group_cols] if group_cols else [F.lit(1)],
        ).orderBy(F.col("__n").desc(), F.col("__v").asc())
        stats = (
            counts.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") == 1)
            .select(*group_cols, F.col("__v").alias("__fill"))
        )
    if group_cols:
        joined = df.join(stats, group_cols, "left")
    else:
        joined = df.crossJoin(stats)
    return joined.withColumn(
        out, F.coalesce(v, F.col("__fill")),
    ).drop("__fill")
