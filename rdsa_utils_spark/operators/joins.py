"""Join operators.

Capability parity:
- ``join_multi_dfs`` — reference ``rdsa_utils/helpers/pyspark.py:1511-1550``
  (left-fold equi-join over a list of DataFrames). Ours supports
  Spark's full join-type vocabulary (semi/anti included — absent from
  the reference but free).

Extensions (no reference equivalent — SURVEY.md §2.4 flags these as
new work for the ``events`` table):
- ``asof_join`` — merge-asof semantics (each left row matched to the
  closest earlier/later right row per key) expressed as a union +
  window ``last_value(ignorenulls)`` sweep: ONE shuffle on
  (key, ts), no cross join, no per-group pandas — survives 100 TB.
- ``range_join`` — point-in-interval join via bucketization: ranges
  are exploded onto a bucket grid (``F.sequence``) and equi-joined on
  bucket id, turning an O(n·m) theta join into a co-partitioned hash
  join + residual filter.
"""

from __future__ import annotations

from functools import reduce
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.functions.columns import epoch_double

_VALID_HOW = {
    "inner", "cross", "outer", "full", "fullouter", "full_outer",
    "left", "leftouter", "left_outer", "right", "rightouter", "right_outer",
    "semi", "leftsemi", "left_semi", "anti", "leftanti", "left_anti",
}


def join_multi_dfs(
    df_list: Sequence[DataFrame],
    on: Union[str, Sequence[str]],
    how: str = "inner",
) -> DataFrame:
    """Left-fold equi-join over ``df_list``.

    The join strategy is left to the planner: a dimension-sized frame
    under the session's broadcast threshold becomes the build side of a
    BroadcastHashJoin without a hint.
    """
    if not df_list:
        raise ValueError("join_multi_dfs: empty df_list")
    if how not in _VALID_HOW:
        raise ValueError(f"join_multi_dfs: invalid how={how!r}")
    head, *tail = df_list
    return reduce(lambda left, right: left.join(right, on=on, how=how), tail, head)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Optional[Union[str, Sequence[str]]] = None,
    direction: str = "backward",
    tolerance: Optional[float] = None,
    suffix: str = "_right",
) -> DataFrame:
    """As-of join: for each left row, attach the nearest right row with
    ``right.on <= left.on`` (backward) or ``>=`` (forward), optionally
    within the same ``by`` keys and within ``tolerance`` (seconds for
    timestamps, plain units for numerics).

    Plan shape: union the two sides tagged by origin, shuffle ONCE on
    (by, on), then a running ``last_value(…, ignorenulls)`` window
    carries the most recent right-side values onto each left row.
    Equivalent to ``pd.merge_asof`` but distributed; no range/cross
    join appears in the physical plan.
    """
    if direction not in {"backward", "forward"}:
        raise ValueError("asof_join: direction must be 'backward' or 'forward'")
    by_cols = [by] if isinstance(by, str) else list(by or [])

    right_value_cols = [c for c in right.columns if c != on and c not in by_cols]
    # Column names carried from the right side get the suffix if they clash.
    out_names = {
        c: (c + suffix if c in left.columns else c) for c in right_value_cols
    }

    left_tagged = left.select(
        *[F.col(c) for c in left.columns],
        F.lit(1).alias("__is_left__"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(out_names[c])
          for c in right_value_cols],
        F.col(on).alias("__asof_ts__"),
    )
    right_tagged = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in by_cols and c != on],
        *[F.col(c) for c in by_cols],
        F.col(on),
        F.lit(0).alias("__is_left__"),
        *[F.col(c).alias(out_names[c]) for c in right_value_cols],
        F.col(on).alias("__asof_ts__"),
    ).select(*left_tagged.columns)  # align column order for union

    unioned = left_tagged.unionByName(right_tagged)

    if direction == "backward":
        # Right rows sort before left rows at identical ts so a tie matches.
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).asc(), F.col("__is_left__").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    else:
        w = (
            Window.partitionBy(*by_cols)
            .orderBy(F.col(on).desc(), F.col("__is_left__").asc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )

    filled = unioned.select(
        *[c for c in unioned.columns if c not in out_names.values() and c != "__asof_ts__"],
        *[F.last(F.when(F.col("__is_left__") == 0, F.col(v)), ignorenulls=True)
            .over(w).alias(v) for v in out_names.values()],
        F.last(F.when(F.col("__is_left__") == 0, F.col("__asof_ts__")), ignorenulls=True)
        .over(w).alias("__matched_ts__"),
    )

    out = filled.filter(F.col("__is_left__") == 1).drop("__is_left__")
    if tolerance is not None:
        # timestamp_ntz cannot cast straight to double — epoch_double
        # dispatches on the on-column's dtype (both sides share it).
        gap = F.abs(
            epoch_double(out, on) - epoch_double(out, "__matched_ts__"),
        )
        out = out.select(
            *[c for c in out.columns if c != "__matched_ts__" and c not in out_names.values()],
            *[F.when(gap <= F.lit(tolerance), F.col(v)).alias(v) for v in out_names.values()],
        )
    else:
        out = out.drop("__matched_ts__")
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
    by: Optional[Union[str, Sequence[str]]] = None,
    how: str = "inner",
) -> DataFrame:
    """Join left points into right [lo, hi) intervals.

    Each right interval is exploded onto the bucket grid it covers
    (``F.sequence`` — cheap when ``bucket_width`` is chosen near the
    typical interval length); left points compute one bucket id. The
    equi-join on (by, bucket) is then an ordinary shuffled/broadcast
    hash join, with the exact containment predicate folded into the
    join condition (NOT a post-join filter — that would silently turn
    a left join back into an inner join by discarding NULL-extended
    rows). Pick ``bucket_width`` ≈ median interval length so explosion
    factor stays O(1).

    ``how`` is limited to inner/left: the bucket grid explodes the
    RIGHT side, so right/full-outer would surface one NULL-extended
    row per *bucket* of an unmatched interval rather than one per
    interval.
    """
    if how not in {"inner", "left", "leftouter", "left_outer"}:
        raise ValueError(
            f"range_join supports inner/left joins, got {how!r} "
            "(the right side is bucket-exploded; right/outer semantics "
            "would duplicate unmatched intervals per bucket)",
        )
    by_cols = [by] if isinstance(by, str) else list(by or [])

    # timestamp_ntz forbids a direct →double cast; dispatch once per
    # column on the SOURCE frame's dtype and reuse for the qualified
    # join-condition references below.
    def _num(col: Column, src: DataFrame, name: str) -> Column:
        if src.schema[name].dataType.typeName() == "timestamp_ntz":
            from rdsa_utils_spark.functions.columns import require_utc_for_ntz

            require_utc_for_ntz(src, name)
            col = col.cast("timestamp")
        return col.cast("double")

    left_b = left.withColumn(
        "__bucket__",
        F.floor(_num(F.col(left_point), left, left_point) / F.lit(bucket_width)).cast("long"),
    )
    right_b = right.withColumn(
        "__rbucket__",
        F.explode(
            F.sequence(
                F.floor(_num(F.col(right_lo), right, right_lo) / F.lit(bucket_width)).cast("long"),
                F.floor(_num(F.col(right_hi), right, right_hi) / F.lit(bucket_width)).cast("long"),
            ),
        ),
    )
    # Temp-rename right by-columns instead of dropping them pre-join
    # (referencing a dropped column raised MISSING_ATTRIBUTES).
    by_tmp = {c: f"__rj_by_{c}__" for c in by_cols}
    for c, tmp in by_tmp.items():
        right_b = right_b.withColumnRenamed(c, tmp)

    cond = (
        (left_b["__bucket__"] == right_b["__rbucket__"])
        & (_num(left_b[left_point], left, left_point) >= _num(right_b[right_lo], right, right_lo))
        & (_num(left_b[left_point], left, left_point) < _num(right_b[right_hi], right, right_hi))
    )
    for c, tmp in by_tmp.items():
        cond = cond & (left_b[c] == right_b[tmp])
    joined = left_b.join(right_b, cond, how)
    return joined.drop("__bucket__", "__rbucket__", *by_tmp.values())


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Union[str, Sequence[str]],
    how: str = "inner",
    salt_buckets: int = 16,
    salt_col: str = "__salt__",
) -> DataFrame:
    """Skew-resistant equi-join: the LEFT (large, skewed) side gets a
    random salt in [0, salt_buckets); the RIGHT side is replicated
    once per salt value (``explode(sequence(...))``), and the join key
    becomes (keys..., salt). A hot key's rows now spread over
    ``salt_buckets`` reducers instead of one straggler task.

    Use when AQE's skew-join split isn't available or the skew is in a
    non-shuffle-joinable spot; cost = right side ×salt_buckets, so keep
    the right side the smaller one. Extension surface (SURVEY.md §7.5);
    no reference equivalent.
    """
    if how not in {"inner", "left", "leftouter", "left_outer"}:
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r} "
            "(replicating the right side breaks right/outer semantics)",
        )
    keys = [on] if isinstance(on, str) else list(on)
    salted_left = left.withColumn(
        salt_col, (F.rand(seed=42) * salt_buckets).cast("int"),
    )
    salted_right = right.withColumn(
        salt_col,
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))),
    )
    out = salted_left.join(salted_right, [*keys, salt_col], how)
    return out.drop(salt_col)


def bloom_semi_join(
    left: DataFrame,
    right: DataFrame,
    left_on: str,
    right_on: Optional[str] = None,
    how: str = "semi",
    expected_items: int = 1_000_000,
    fpp: float = 0.01,
    max_bloom_bytes: int = 64 << 20,
) -> DataFrame:
    """Semi/anti join with a Bloom prefilter — identical results to
    ``left.join(right, …, 'left_semi'/'left_anti')``, different
    shuffle profile: the right side's DISTINCT keys build a
    DataFrame-native Bloom bitmap (functions/bloom.py) that rides a
    1-row broadcast, and left rows the filter REJECTS — definite
    non-members — never enter the join shuffle. With a 1% match rate
    a semi join shuffles ~1% (+fpp) of the left side instead of all
    of it; an anti join passes the ~99% straight through and only
    anti-joins the maybes.

    This is the selective-join pattern Spark's runtime row-level
    filtering (``spark.sql.optimizer.runtime.bloomFilter.enabled``)
    applies to equi-joins automatically — exposed as an explicit
    operator because semi/anti SHAPED pipelines (decontamination,
    blocklist lookups, incremental dedup) often join through derived
    keys the optimizer won't cover, and because OSS Spark does not
    expose ``bloom_filter_agg`` to the Python API at all.

    Size ``expected_items`` for the RIGHT side's distinct-key count;
    an undersized filter stays CORRECT (more false positives reach
    the exact join) — correctness never depends on the sizing.
    NULL left keys never match an equi-join key, so they are dropped
    by ``semi`` and passed through by ``anti`` (same as the plain
    join). Returns left columns only, like the plain semi/anti join.
    """
    from rdsa_utils_spark.functions.bloom import (
        bloom_params,
        bloom_probe_expr,
        build_bloom_bitmap,
    )

    if how not in ("semi", "anti"):
        raise ValueError(f"how must be 'semi' or 'anti', got {how!r}")
    right_on = right_on or left_on
    # xxhash64 is TYPE-sensitive (int 5 and bigint 5 hash differently)
    # while the exact equi-join implicitly casts — mismatched key
    # types would make true members probe as "definitely absent" and
    # silently corrupt the result. Refuse loudly; an explicit cast at
    # the call site states which representation the caller means.
    lt = left.schema[left_on].dataType
    rt = right.schema[right_on].dataType
    if lt != rt:
        raise ValueError(
            f"bloom_semi_join: key types must match exactly (left "
            f"{left_on}: {lt.simpleString()}, right {right_on}: "
            f"{rt.simpleString()}) — the Bloom probe hashes raw bytes; "
            f"cast one side explicitly before calling",
        )
    m_bits, k_hashes = bloom_params(expected_items, fpp)
    if m_bits // 8 > max_bloom_bytes:
        raise ValueError(
            f"bloom bitmap would be {m_bits // 8} bytes for "
            f"expected_items={expected_items}, over max_bloom_bytes="
            f"{max_bloom_bytes}; lower expected_items (more false "
            f"positives, still exact) or use the plain semi/anti join",
        )
    keys = right.select(F.col(right_on).alias("__key__")).distinct()
    bitmap = build_bloom_bitmap(keys, "__key__", m_bits, k_hashes)
    maybe = bloom_probe_expr(left_on, m_bits, k_hashes)
    flagged = (
        # broadcast: the bitmap is driver-built rows, an RDD scan with no size statistic
        left.join(F.broadcast(bitmap))
        .withColumn("__maybe__", F.col(left_on).isNotNull() & maybe)
        .drop("__bloom__")
    )
    maybes = (
        flagged.filter(F.col("__maybe__"))
        .drop("__maybe__")
        .join(keys, F.col(left_on) == F.col("__key__"), f"left_{how}")
    )
    if how == "semi":
        return maybes
    definite = flagged.filter(~F.col("__maybe__")).drop("__maybe__")
    return definite.unionByName(maybes)
