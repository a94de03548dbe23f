"""Window operators: specs, ranking, first-per-group, deterministic dedup.

Capability parity (re-designed):
- ``get_window_spec`` — reference ``rdsa_utils/helpers/pyspark.py:283-326``.
  The reference silently builds a GLOBAL (unpartitioned) window when no
  partition cols are given — a single-task collapse at scale; ours
  warns loudly in that case (SURVEY.md §7.5).
- ``rank_numeric`` — reference ``helpers/pyspark.py:329-369``
  (row_number, deliberately unique per row).
- ``select_first_obs_appearing_in_group`` — reference
  ``helpers/pyspark.py:455-494``.
- ``drop_duplicates_reproducible`` — reference ``helpers/pyspark.py:1174-1221``.
  The reference falls back to ``monotonically_increasing_id`` which is
  partition-layout-dependent (NOT reproducible across cluster sizes);
  ours requires an explicit tiebreaker column by default and only
  falls back with a warning.
"""

from __future__ import annotations

import warnings
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin

_Cols = Union[str, Column, Sequence[Union[str, Column]]]


def _to_list(cols: Optional[_Cols]) -> list:
    if cols is None:
        return []
    if isinstance(cols, (str, Column)):
        return [cols]
    return list(cols)


def constant_partition_key(anchor: Union[str, Column]) -> Column:
    """A constant-valued but NON-FOLDABLE window partition key:
    ``hash(anchor) % 1`` — always 0, so the window still sees every
    row in one partition, but Catalyst cannot constant-fold it away
    the way it eliminates ``F.lit(0)`` from a partitionSpec (verified
    on Spark 4.1: a foldable key reverts the plan to an empty-spec
    ``Exchange SinglePartition`` and WindowExec logs a "No Partition
    Defined" warning PER EXECUTION). Use for windows over frames
    already reduced to calendar/top-k/knot-table size, where
    single-partition execution is the honest plan and the log noise
    would bury a real unpartitioned-window warning (round 12; the
    structural plan audit — plans/audit.py global_windows — remains
    the gate against true global windows over raw data).

    ``anchor`` should be any always-present column of the frame.
    """
    c = F.col(anchor) if isinstance(anchor, str) else anchor
    return F.hash(c) % F.lit(1)


def get_window_spec(
    partition_cols: Optional[_Cols] = None,
    order_cols: Optional[_Cols] = None,
) -> WindowSpec:
    """Build a WindowSpec from optional partition/order columns.

    No partition + no order → whole-frame window
    (``rowsBetween(unboundedPreceding, unboundedFollowing)``).
    Order without partition → global sort window; emits a
    RuntimeWarning because it executes as ONE task regardless of
    cluster size.
    """
    partitions = _to_list(partition_cols)
    orders = _to_list(order_cols)
    if partitions and orders:
        return Window.partitionBy(*partitions).orderBy(*orders)
    if partitions:
        return Window.partitionBy(*partitions)
    if orders:
        warnings.warn(
            "get_window_spec: order without partition collapses to a single "
            "task — every row shuffles to one executor. Partition if possible.",
            RuntimeWarning,
            stacklevel=2,
        )
        return Window.orderBy(*orders)
    return Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def rank_numeric(
    numeric: Union[str, Column],
    group: Optional[_Cols] = None,
    ascending: bool = False,
    method: str = "row_number",
) -> Column:
    """Rank rows by ``numeric`` within ``group``.

    ``method='row_number'`` (default, matches reference: unique rank
    per row); also exposes ``rank`` and ``dense_rank``.
    """
    order = F.asc(numeric) if ascending else F.desc(numeric)
    partitions = _to_list(group)
    w = Window.partitionBy(*partitions).orderBy(order) if partitions else Window.orderBy(order)
    fns = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}
    if method not in fns:
        raise ValueError(f"rank_numeric: method must be one of {sorted(fns)}")
    return fns[method]().over(w)


def select_first_obs_appearing_in_group(
    df: DataFrame,
    group: Sequence[str],
    date_col: str,
    ascending: bool = True,
) -> DataFrame:
    """Keep the earliest (``ascending=True``) or latest row per group
    by ``date_col``. One shuffle on the group keys."""
    rank_col = rank_numeric(date_col, group, ascending=ascending)
    return (
        df.withColumn("__rank__", rank_col)
        .filter(F.col("__rank__") == 1)
        .drop("__rank__")
    )


def drop_duplicates_reproducible(
    df: DataFrame,
    col: Union[str, Sequence[str]],
    id_col: Optional[str] = None,
) -> DataFrame:
    """Deterministic dedup: keep the row with the smallest ``id_col``
    per key.

    Without ``id_col`` the only available tiebreaker is
    ``monotonically_increasing_id`` — stable only for a fixed
    partition layout; a warning documents that the result may differ
    across cluster sizes (the reference has the same hidden caveat).
    """
    keys = [col] if isinstance(col, str) else list(col)
    made_tiebreaker = False
    if id_col is None:
        warnings.warn(
            "drop_duplicates_reproducible: no id_col given; falling back to "
            "monotonically_increasing_id, which is NOT stable across "
            "different partitionings. Pass an explicit tiebreaker column.",
            RuntimeWarning,
            stacklevel=2,
        )
        df = df.withColumn("__dedup_id__", F.monotonically_increasing_id())
        id_col = "__dedup_id__"
        made_tiebreaker = True
    w = Window.partitionBy(*keys).orderBy(F.col(id_col).asc())
    out = (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    # Only drop the helper column this function itself created — a
    # user column that happens to be named __dedup_id__ (passed as an
    # explicit id_col or just present) must survive.
    return out.drop("__dedup_id__") if made_tiebreaker else out


def top_k_per_group(
    df: DataFrame,
    group: _Cols,
    order_col: Union[str, Column],
    k: int,
    ascending: bool = False,
) -> DataFrame:
    """Top-K rows per group (window row_number ≤ K; single shuffle)."""
    rank_col = rank_numeric(order_col, group, ascending=ascending)
    return (
        df.withColumn("__rank__", rank_col)
        .filter(F.col("__rank__") <= k)
        .drop("__rank__")
    )


def add_row_index(
    df: DataFrame,
    order_cols: _Cols,
    index_col: str = "row_index",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Attach a contiguous 0-based global row index ordered by
    ``order_cols`` — WITHOUT the single-task collapse of
    ``row_number().over(Window.orderBy(...))``.

    Plan: range-repartition on the order columns (sampled boundaries,
    one exchange — the same layout ``orderBy`` lowers to), sort within
    partitions, then a per-partition ``row_number`` window keyed on
    ``spark_partition_id()`` plus a driver-computed offset per
    partition (one tiny ``groupBy(pid).count()`` collect — ≤ one row
    per partition, never data-sized). Every stage is parallel; the
    only serial step is the O(#partitions) prefix sum on the driver.

    Deterministic when ``order_cols`` is a unique key (ties within a
    range partition are broken by the sort's stability, but ties ON a
    range boundary may land in either partition across runs — pass a
    tiebreaker column to make the index reproducible).

    Reference has no counterpart (its engines index single-node);
    replaces the ``monotonically_increasing_id`` anti-pattern (gapped,
    layout-dependent) for training-order ids, resumable readers, and
    stable sample labels.
    """
    orders = _to_list(order_cols)
    if not orders:
        raise ValueError("add_row_index: order_cols must be non-empty")
    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    laid_out = (
        df.repartitionByRange(parts, *orders)
        .sortWithinPartitions(*orders)
        .withColumn("__pid__", F.spark_partition_id())
    )
    # The pin keeps the sampled range boundaries so the counts
    # pass and the output pass see the SAME partition assignment (a
    # recompute could re-sample boundaries and skew the offsets).
    laid_out = laid_out.transform(pin)
    counts = {r["__pid__"]: r["cnt"] for r in
              laid_out.groupBy("__pid__").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        offset_map = F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv],
        )
        offset = offset_map[F.col("__pid__")]
    else:  # empty frame: no offsets to attach
        offset = F.lit(0)
    w = Window.partitionBy("__pid__").orderBy(*orders)
    return (
        laid_out.withColumn(
            index_col,
            (F.row_number().over(w) - 1 + offset).cast("long"),
        )
        .drop("__pid__")
    )
