"""Streaming drift monitoring: per-window fixed-grid bin counts plus
a batch-side PSI gate against a pinned reference distribution.

Extension surface (no reference equivalent; composes
``streaming/windows_time.tumbling_window_agg`` with
``operators/drift``): the streaming half of the "did the distribution
move?" admission check. The stream emits ONE row per (window, key,
bin) — state bounded by windows × keys × n_bins regardless of event
volume — and the batch side turns any persisted span of those rows
into PSI-per-window against a reference binning captured once from a
trusted corpus slice. Because both sides bin through the SAME
:func:`rdsa_utils_spark.operators.drift.fixed_bin` expression, a PSI
spike is a data shift, never an edge-definition artifact.

Watermarks, late data and append-mode semantics are exactly those of
any windowed aggregation (the bin column is just one more group key).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.drift import fixed_bin, psi_from_counts
from rdsa_utils_spark.streaming.windows_time import tumbling_window_agg

__all__ = ["windowed_bin_counts", "reference_bin_counts", "psi_vs_reference"]


def windowed_bin_counts(
    df: DataFrame,
    ts_col: str,
    duration: str,
    value_col: str,
    n_bins: int,
    lo: float,
    hi: float,
    keys: Sequence[str] = (),
    watermark: Optional[str] = None,
    bin_col: str = "bin",
    count_col: str = "n",
) -> DataFrame:
    """Tumbling-window fixed-grid histogram rows — works on streams
    (pass ``watermark``) and batch frames alike: (window_start,
    window_end, keys…, bin, n). NULL values are excluded (same rule
    as batch :func:`rdsa_utils_spark.operators.drift.psi`)."""
    binned = df.filter(F.col(value_col).isNotNull()).withColumn(
        bin_col, fixed_bin(value_col, n_bins, lo, hi),
    )
    return tumbling_window_agg(
        binned,
        ts_col=ts_col,
        duration=duration,
        aggs={count_col: F.count(F.lit(1))},
        keys=[*keys, bin_col],
        watermark=watermark,
    )


def reference_bin_counts(
    df: DataFrame,
    value_col: str,
    n_bins: int,
    lo: float,
    hi: float,
    keys: Sequence[str] = (),
    bin_col: str = "bin",
    count_col: str = "n_ref",
) -> DataFrame:
    """The pinned expected distribution: (keys…, bin, n_ref) counts of
    a trusted batch slice through the SAME grid. Persist this once;
    recomputing the reference per refresh would hide drift inside a
    moving baseline."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, fixed_bin(value_col, n_bins, lo, hi).alias(bin_col))
        .agg(F.count(F.lit(1)).alias(count_col))
    )


def psi_vs_reference(
    window_counts: DataFrame,
    reference: DataFrame,
    n_bins: int,
    keys: Sequence[str] = (),
    window_cols: Sequence[str] = ("window_start", "window_end"),
    bin_col: str = "bin",
    count_col: str = "n",
    ref_count_col: str = "n_ref",
    smoothing: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """PSI per window against the pinned reference: one row per
    (window, keys…) with ``n_a`` (reference size), ``n_b`` (window
    size) and ``psi`` — > 0.25 is the classic major-shift gate.

    The grid is completed per window BEFORE the reference join (a
    reference bin with no events in some window must still pull its
    smoothing term), and spans EVERY reference key in every observed
    window — a key that stops emitting entirely still gets its PSI
    row (n_b = 0, maximal shift) instead of disappearing from the
    monitor. Then the math is exactly
    :func:`operators.drift.psi_from_counts`. The reference is
    keys×n_bins rows — the planner broadcasts it while it is under the
    session's threshold; the windowed side joins on (keys, bin) with no
    extra shuffle beyond its own grouping.
    """
    keys = list(keys)
    window_cols = list(window_cols)
    by = [*window_cols, *keys]
    # The group grid is windows × (reference keys ∪ observed keys):
    # a key that stops emitting entirely (the strongest drift — a
    # dead source) has NO row in window_counts for that window, so a
    # grid derived from window_counts alone would silently emit no
    # PSI for it. Both factors are metadata-sized; the key side rides
    # a broadcast nested-loop, never a cartesian. Columns are renamed
    # before the grid↔counts self-join (attribute-id clash otherwise)
    # and renamed back after.
    gcols = [f"__g{i}__" for i in range(len(by))]
    wins = window_counts.select(
        *[F.col(c).alias(g) for c, g in zip(window_cols, gcols)],
    ).distinct()
    if keys:
        kg = gcols[len(window_cols):]
        all_keys = (
            reference.select(*keys)
            .unionByName(window_counts.select(*keys))
            .distinct()
            .select(*[F.col(c).alias(g) for c, g in zip(keys, kg)])
        )
        # broadcast: Catalyst sizes a distinct as its input, and the key set is metadata-sized
        groups = wins.crossJoin(F.broadcast(all_keys))
    else:
        groups = wins
    grid = groups.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("__gbin__"),
    )
    wc = window_counts.select(*by, bin_col, count_col)
    cond = F.col("__gbin__") == F.col(bin_col)
    for c, g in zip(by, gcols):
        cond = cond & (F.col(g) == F.col(c))
    actual = grid.join(wc, cond, "left").select(
        *[F.col(g).alias(c) for c, g in zip(by, gcols)],
        F.col("__gbin__").alias(bin_col),
        F.coalesce(F.col(count_col), F.lit(0)).alias("__b__"),
    )
    ref = reference.select(*keys, bin_col, F.col(ref_count_col).alias("__a__"))
    joined = actual.join(ref, [*keys, bin_col], "left").select(
        *by,
        bin_col,
        F.coalesce(F.col("__a__"), F.lit(0)).alias("__a__"),
        "__b__",
    )
    return psi_from_counts(
        joined, bin_col, "__a__", "__b__", n_bins,
        by=by, smoothing=smoothing, round_to=round_to,
        complete_grid=False,
    )
