"""Data-distribution diagnostics that inform physical tuning.

Extension surface (no reference equivalent): before choosing a salt
factor, an AQE skew threshold, or a broadcast side at 100 TB, you need
to KNOW the key distribution — this module measures it with one
aggregation instead of guessing from failed stages.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def key_skew_report(
    df: DataFrame,
    key_cols: str | Sequence[str],
    top_n: int = 10,
) -> DataFrame:
    """Heavy-hitter report for a prospective shuffle key: the ``top_n``
    most frequent key values with their row count, share of all rows,
    and skew ratio (count ÷ mean rows per key). A skew ratio ≫ 1 on the
    join/group key predicts straggler tasks; feed those keys to
    ``salted_join`` or raise ``spark.sql.adaptive.skewJoin`` thresholds.

    Shape: one groupBy on the candidate keys (map-side combined — the
    same shuffle the real query would do, so the report costs no more
    than the query's first stage), a broadcast single-row stats attach,
    and a TakeOrderedAndProject for the top-N. Ratios round to 6
    decimals for cross-engine comparability.
    """
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    counts = df.groupBy(*keys).agg(F.count("*").alias("key_count"))
    stats = counts.agg(
        F.sum("key_count").alias("__total__"),
        F.count("*").alias("__n_keys__"),
    )
    return (
        counts.crossJoin(stats)
        .select(
            *keys,
            "key_count",
            F.round(F.col("key_count") / F.col("__total__"), 6).alias("share"),
            F.round(
                F.col("key_count") / (F.col("__total__") / F.col("__n_keys__")), 6,
            ).alias("skew_ratio"),
        )
        .orderBy(F.desc("key_count"), *keys)
        .limit(top_n)
    )


def numeric_histogram(
    df: DataFrame,
    value_col: str,
    bins: int = 20,
    value_range: Optional[Tuple[float, float]] = None,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Equi-width histogram of ``value_col``: one row per non-empty
    bin — (group…, bin, bin_lo, bin_hi, n_rows), bin in [0, bins).
    In-range values bucket by ``floor((x-lo)/(hi-lo)*bins)`` with the
    top edge closed (x = hi lands in the last bin); out-of-range
    values clamp into the edge bins, NULLs drop.

    The whole thing is one map-side-combined groupBy on a computed
    bucket — the cheapest possible full-distribution scan, and the
    right precursor to choosing AQE skew thresholds, salt factors, or
    range-partition bounds at 100 TB. ``value_range`` pins the edges
    for cross-partition / cross-day comparability; when omitted, one
    tiny min/max stats job derives it.

    Deliberately plain floor arithmetic (not ``width_bucket``) so any
    engine replays bucket assignment bit-for-bit from the formula.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if value_range is None:
        [row] = df.agg(
            F.min(value_col).alias("lo"), F.max(value_col).alias("hi"),
        ).collect()
        if row.lo is None:
            # All-NULL or empty input: empty histogram with the right schema.
            value_range = (0.0, 1.0)
        else:
            value_range = (float(row.lo), float(row.hi))
    lo, hi = (float(value_range[0]), float(value_range[1]))
    if not hi > lo:
        hi = lo + 1.0
    frac = (F.col(value_col).cast("double") - F.lit(lo)) / F.lit(hi - lo)
    bucket = F.least(
        F.greatest(F.floor(frac * bins).cast("long"), F.lit(0)),
        F.lit(bins - 1),
    )
    groups = [F.col(g) for g in group_cols]
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*groups, bucket.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            *groups,
            "bin",
            F.round(F.lit(lo) + F.col("bin") * F.lit((hi - lo)) / F.lit(bins), 6).alias("bin_lo"),
            F.round(F.lit(lo) + (F.col("bin") + 1) * F.lit((hi - lo)) / F.lit(bins), 6).alias("bin_hi"),
            "n_rows",
        )
        .orderBy(*group_cols, "bin")
    )


def observe_frame(df: DataFrame, metrics, name: str = "rdsa_metrics"):
    """Attach a Spark ``Observation`` to a frame: ``metrics`` maps
    output names to aggregate Columns (``F.count``, ``F.sum``,
    null-count conditions, …). Returns ``(observed_df, observation)``;
    read ``observation.get`` AFTER the first action on the frame.

    The point at 100 TB: the metrics ride the SAME job that writes /
    consumes the data — a separate validation ``agg()`` would re-scan
    the entire input. This is Spark's accumulator-backed metric path,
    exact for the completed action (unlike task-level accumulators,
    re-tries don't double-count).
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    cols = [c.alias(n) for n, c in dict(metrics).items()]
    if not cols:
        raise ValueError("observe_frame: metrics must be non-empty")
    return df.observe(obs, *cols), obs


def write_with_metrics(
    df: DataFrame,
    metrics,
    path: Optional[str] = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> dict:
    """Write ``df`` and return observation metrics captured by the
    write job itself — ingest-gate counters (rows written, nulls,
    value totals) at zero extra scans. ``fmt='noop'`` benchmarks /
    validates without persisting."""
    observed, obs = observe_frame(df, metrics)
    writer = observed.write.format(fmt).mode(mode)
    if path is not None:
        writer.save(path)
    else:
        writer.save()
    return dict(obs.get)
