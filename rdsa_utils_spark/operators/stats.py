"""Distributed statistics operators: grouped OLS fit, correlation
matrix, two-sample chi-square drift, winsorization, quantile-cut
RFM segmentation.

Extension surface (no reference equivalent; complements the
descriptive profiling in ``operators/quality.py::profile_columns``
and the anomaly scoring in ``operators/events.py::rolling_zscore``):
an analytics engine at 100 TB needs the *inferential* basics —
trend fits, dependence structure, distribution-shift tests, robust
clipping — executed as single-pass JVM aggregations, never as a
driver-side scikit-learn detour.

Design rules shared by every operator here:

- Everything is a ``groupBy().agg()`` over built-in Catalyst
  aggregates (``regr_*``, ``corr``, ``percentile``) — one shuffle on
  the group key, map-side partial aggregation, whole-stage codegen.
  No Python UDFs, no ``collect()``.
- Scalar statistics that must be attached back to rows (quantile cut
  points, sample totals) travel as a broadcast 1-row frame — the
  same scalar-attach shape as ``bm25_search``/``lm_quality`` — so
  the only non-equi join in any plan is a provably 1-row broadcast.
- Results are rounded (default 6 dp) at the edge so they replay
  bit-identically against external engines; pass ``round_to=None``
  for full precision inside a pipeline.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin

__all__ = [
    "grouped_linear_fit",
    "correlation_matrix",
    "chi_square_drift",
    "winsorize",
    "rfm_segments",
    "js_divergence",
    "grouped_autocorrelation",
    "group_percent_rank",
    "mad_outliers",
    "grouped_bootstrap_ci",
    "ab_test_report",
    "cuped_adjust",
    "post_stratified_mean",
    "ratio_estimator",
    "price_index",
    "tornqvist_index",
    "gini_coefficient",
    "hhi_concentration",
    "lorenz_points",
    "chained_index",
    "kaplan_meier",
    "weighted_quantiles",
    "cohens_kappa",
    "ks_statistic",
    "categorical_entropy",
    "mutual_information",
]


def _maybe_round(col: Column, round_to: Optional[int]) -> Column:
    return F.round(col, round_to) if round_to is not None else col


def grouped_linear_fit(
    df: DataFrame,
    x_col: Column | str,
    y_col: Column | str,
    group_cols: Sequence[str],
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y ~ x``: one row per
    group with ``(n, slope, intercept, r2)``.

    Runs as a single ``groupBy().agg()`` over Spark's built-in
    ``regr_*`` aggregates (moment accumulators, map-side combined) —
    the 100 TB cost is one linear scan plus one shuffle of
    O(groups) partial states. Groups whose x is constant (zero
    variance) yield NULL slope/intercept/r2, matching ANSI
    ``REGR_*`` semantics.
    """
    x = F.col(x_col).cast("double") if isinstance(x_col, str) else x_col.cast("double")
    y = F.col(y_col).cast("double") if isinstance(y_col, str) else y_col.cast("double")
    return df.groupBy(*group_cols).agg(
        F.regr_count(y, x).alias("n"),
        _maybe_round(F.regr_slope(y, x), round_to).alias("slope"),
        _maybe_round(F.regr_intercept(y, x), round_to).alias("intercept"),
        _maybe_round(F.regr_r2(y, x), round_to).alias("r2"),
    )


def correlation_matrix(
    df: DataFrame,
    cols: Sequence[str],
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Pairwise Pearson correlations of ``cols`` in long form: one row
    per unordered pair ``(col_x, col_y, corr)`` with
    ``col_x < col_y`` in the given order.

    All C(k,2) ``corr`` accumulators run inside ONE global
    aggregation — a single scan and a single 1-row reduce regardless
    of k — and the 1-row wide result is unpivoted to long form with
    ``stack`` (pure projection, no extra shuffle). NULL-safe per
    Spark's ``corr`` (pairwise-complete observations).
    """
    if len(cols) < 2:
        raise ValueError(f"need at least 2 columns, got {list(cols)!r}")
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in list(cols)[i + 1 :]
    ]
    aggs = [
        _maybe_round(
            F.corr(F.col(a).cast("double"), F.col(b).cast("double")), round_to,
        ).alias(f"__corr_{i}")
        for i, (a, b) in enumerate(pairs)
    ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', __corr_{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_args}) AS (col_x, col_y, corr)",
    )


def chi_square_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Two-sample chi-square decomposition of distribution shift in
    ``category_col`` between sample A and sample B: one row per
    category with observed counts, expected counts under the pooled
    distribution, and the category's additive contribution to the
    chi-square statistic (``SUM(chi2_contrib)`` over the result is
    the test statistic with k-1 degrees of freedom). For the scalar
    per-group gate over a single tagged frame, use
    :func:`rdsa_utils_spark.operators.drift.chi2_homogeneity` — this
    operator is the diagnostic view (WHICH categories moved), that
    one the admission test.

    Shuffle shape: each side is one ``groupBy(category)`` count
    (map-side combined), the category tables are outer-merged by
    ``unionByName`` + re-aggregation, and the grand totals attach as
    a broadcast 1-row frame — nothing driver-side, nothing
    quadratic. NULL categories count as a real category (surfaced as
    NULL), matching SQL ``GROUP BY``.
    """
    tagged = df_a.select(
        F.col(category_col).alias("category"), F.lit(1).alias("__a"), F.lit(0).alias("__b"),
    ).unionByName(
        df_b.select(
            F.col(category_col).alias("category"),
            F.lit(0).alias("__a"),
            F.lit(1).alias("__b"),
        ),
    )
    counts = tagged.groupBy("category").agg(
        F.sum("__a").alias("n_a"), F.sum("__b").alias("n_b"),
    )
    totals = counts.agg(
        F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb"),
    )
    t = counts.crossJoin(totals)
    row_total = (F.col("n_a") + F.col("n_b")).cast("double")
    grand = (F.col("__ta") + F.col("__tb")).cast("double")
    exp_a = row_total * F.col("__ta").cast("double") / grand
    exp_b = row_total * F.col("__tb").cast("double") / grand
    contrib = (
        (F.col("n_a").cast("double") - exp_a) ** 2 / exp_a
        + (F.col("n_b").cast("double") - exp_b) ** 2 / exp_b
    )
    return t.select(
        "category",
        "n_a",
        "n_b",
        _maybe_round(exp_a, round_to).alias("expected_a"),
        _maybe_round(exp_b, round_to).alias("expected_b"),
        _maybe_round(contrib, round_to).alias("chi2_contrib"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    lower: float = 0.05,
    upper: float = 0.95,
    out_col: Optional[str] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Clip ``value_col`` to its per-group ``[lower, upper]`` exact
    quantile band (linear interpolation, ANSI ``PERCENTILE_CONT``
    semantics) — the standard robust pre-processing step before
    means/fits that outliers would otherwise dominate.

    The per-group bounds are ONE ``percentile(value, array(lo, hi))``
    accumulator per group — a single sort-based aggregation pass, not
    two — and join back broadcast-sized (O(groups) rows, AQE
    broadcasts them while they fit). Exact percentiles are
    sort-heavy at extreme cardinality; substitute
    ``approx_percentile`` upstream when the group count is small but
    per-group rows are 100 TB-scale and a 1e-4 relative error is
    acceptable.

    NULL values pass through as NULL (never clipped to a bound).
    """
    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(f"need 0 <= lower < upper <= 1, got ({lower}, {upper})")
    out = out_col or f"{value_col}_winsorized"
    v = F.col(value_col).cast("double")
    bounds = df.groupBy(*group_cols).agg(
        F.percentile(v, F.array(F.lit(float(lower)), F.lit(float(upper)))).alias("__qs"),
    ).select(
        *group_cols,
        F.col("__qs")[0].alias("__lo"),
        F.col("__qs")[1].alias("__hi"),
    )
    # greatest/least IGNORE null arguments (they return the extreme of
    # the non-null ones), which would quietly clip NULL values to the
    # lower bound — guard so NULL passes through as NULL.
    clipped = F.when(
        v.isNull(), F.lit(None).cast("double"),
    ).otherwise(F.least(F.greatest(v, F.col("__lo")), F.col("__hi")))
    return (
        df.join(bounds, list(group_cols))
        .withColumn(out, _maybe_round(clipped, round_to))
        .drop("__lo", "__hi")
    )


def rfm_segments(
    df: DataFrame,
    customer_col: str,
    date_col: str,
    amount_col: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """RFM segmentation: per customer, recency (days since epoch of
    the last order — larger is more recent), frequency (order
    count), monetary (total spend), each scored 1-4 against the
    population's exact quartile cut points, plus the concatenated
    ``segment`` label ('111'..'444').

    Deliberately NOT ``ntile(4)`` over a global sort: a single-
    partition window is the one operator that cannot scale past one
    executor. Instead the three quartile triplets are ONE 1-row
    aggregation (``percentile`` accumulators side by side),
    broadcast back, and scores are plain comparisons — fully
    parallel, and ties land in a deterministic bucket by value
    rather than by sort position. Scores: 1 + [v>=q25] + [v>=q50] +
    [v>=q75].
    """
    per_cust = df.groupBy(F.col(customer_col).alias("customer")).agg(
        F.datediff(F.max(F.col(date_col).cast("date")), F.lit("1970-01-01"))
        .cast("double")
        .alias("recency_days"),
        F.count(F.lit(1)).cast("double").alias("frequency"),
        # Rounded BEFORE the cut points are taken: double sums are
        # addition-order-dependent, and an ulp of noise on a customer
        # sitting exactly on a quartile boundary would flip its score.
        # Rounding first makes score assignment replayable bit-for-bit.
        _maybe_round(F.sum(F.col(amount_col).cast("double")), round_to).alias(
            "monetary",
        ),
    )
    qarr = F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    cuts = per_cust.agg(
        F.percentile(F.col("recency_days"), qarr).alias("__rq"),
        F.percentile(F.col("frequency"), qarr).alias("__fq"),
        F.percentile(F.col("monetary"), qarr).alias("__mq"),
    )

    def _score(v: str, q: str) -> Column:
        s = F.lit(1)
        for i in range(3):
            s = s + F.when(F.col(v) >= F.col(q)[i], 1).otherwise(0)
        return s

    scored = per_cust.crossJoin(cuts).select(
        "customer",
        F.col("recency_days").cast("long").alias("recency_days"),
        F.col("frequency").cast("long").alias("frequency"),
        F.col("monetary"),
        _score("recency_days", "__rq").alias("r_score"),
        _score("frequency", "__fq").alias("f_score"),
        _score("monetary", "__mq").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ),
    )


def js_divergence(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Jensen-Shannon divergence (base-2, so in [0, 1]) between the
    categorical distributions of ``category_col`` in two samples —
    the bounded, symmetric companion to :func:`chi_square_drift` for
    monitoring corpus mixture shift. Returns ONE row:
    ``(jsd, n_a, n_b)``.

    Same shuffle shape as the chi-square: two map-side-combined
    category counts merged by union + re-aggregation, totals as a
    broadcast 1-row attach, then a single scalar reduce. Categories
    absent from one side contribute their full 0.5·log2(2) share,
    per the standard 0·log(0) = 0 convention.
    """
    tagged = df_a.select(
        F.col(category_col).alias("category"), F.lit(1).alias("__a"), F.lit(0).alias("__b"),
    ).unionByName(
        df_b.select(
            F.col(category_col).alias("category"),
            F.lit(0).alias("__a"),
            F.lit(1).alias("__b"),
        ),
    )
    counts = tagged.groupBy("category").agg(
        F.sum("__a").alias("n_a"), F.sum("__b").alias("n_b"),
    )
    totals = counts.agg(F.sum("n_a").alias("__ta"), F.sum("n_b").alias("__tb"))
    t = counts.crossJoin(totals)
    p = F.col("n_a").cast("double") / F.col("__ta").cast("double")
    q = F.col("n_b").cast("double") / F.col("__tb").cast("double")
    m = (p + q) / F.lit(2.0)
    kl_term = lambda x: F.when(x > 0, x * F.log2(x / m)).otherwise(F.lit(0.0))  # noqa: E731
    contrib = F.lit(0.5) * kl_term(p) + F.lit(0.5) * kl_term(q)
    out = t.agg(
        _maybe_round(F.sum(contrib), round_to).alias("jsd"),
        F.max("__ta").alias("n_a"),
        F.max("__tb").alias("n_b"),
    )
    return out


def grouped_autocorrelation(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: str,
    lags: Sequence[int] = (1, 2, 3),
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Per-group autocorrelation of an ordered series at the given
    lags — the periodicity/persistence diagnostic for keyed time
    series (does yesterday predict today? is there a weekly echo?).

    Output: one row per (group, lag) with ``acf`` = Pearson r between
    the series and its lag-shifted self (sample ACF over the
    overlapping pairs; NULL when a group has ≤ lag rows or zero
    variance in the overlap).

    One window pass materializes ALL requested lag columns (single
    sort within the group partition), then one ``groupBy`` computes
    every ``corr(x, x_lag)`` as built-in Catalyst aggregates, and a
    ``stack`` unpivots to long form. The window and the aggregation
    hash-partition on the same key, so AQE collapses them into ONE
    shuffle; cost is independent of ``len(lags)`` beyond the extra
    aggregate buffers. No Python anywhere.
    """
    if not lags or any(lag <= 0 for lag in lags):
        raise ValueError(f"lags must be positive ints, got {lags!r}")
    from pyspark.sql import Window

    gcols = list(group_cols)
    w = Window.partitionBy(*gcols).orderBy(order_col)
    lagged = df.select(
        *gcols,
        F.col(value_col).alias("__x__"),
        *[
            F.lag(value_col, lag).over(w).alias(f"__x_lag{lag}__")
            for lag in lags
        ],
    )
    aggs = [
        F.corr("__x__", f"__x_lag{lag}__").alias(f"__acf{lag}__")
        for lag in lags
    ]
    wide = lagged.groupBy(*gcols).agg(*aggs)
    stack_expr = ", ".join(
        f"{lag}, __acf{lag}__" for lag in lags
    )
    out = wide.select(
        *gcols,
        F.expr(
            f"stack({len(lags)}, {stack_expr}) as (lag, acf)",
        ),
    )
    if round_to is not None:
        out = out.withColumn("acf", F.round("acf", round_to) + F.lit(0.0))
    return out


def group_percent_rank(
    df: DataFrame,
    group: Sequence[str] | str,
    value_col: str,
    out_col: str = "pct_rank",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Within-group percentile rank of ``value_col`` (0 at the group
    minimum, 1 at the maximum — SQL ``percent_rank`` semantics): the
    rank-based normalization for mixing heterogeneous score scales
    (quality scores from different models, per-source spam scores)
    before thresholding or corpus mixing.

    One window = one hash shuffle on the group key; ties share a
    rank, so the output is deterministic without a tiebreaker.
    """
    keys = [group] if isinstance(group, str) else list(group)
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col(value_col))
    return df.withColumn(
        out_col, _maybe_round(F.percent_rank().over(w), round_to),
    )


def mad_outliers(
    df: DataFrame,
    group: Sequence[str] | str,
    value_col: str,
    z_threshold: float = 3.5,
    out_col: str = "is_outlier",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Robust outlier flags via the modified z-score
    ``0.6745 · (x − median) / MAD`` (Iglewicz & Hoaglin): unlike
    mean/std z-scores the cut points don't move when the outliers
    themselves inflate the spread.

    Two grouped exact-percentile aggregations (median, then median of
    absolute deviations — the second pass is required; MAD is not
    algebraic) + one join back on the group key: three hash shuffles
    on the same key, no window, no Python. Groups with MAD = 0 flag
    only exact deviants (score = null → not outlier, x ≠ median →
    outlier by convention ∞).

    Adds ``mod_z`` (rounded) and ``out_col`` to the frame.
    """
    keys = [group] if isinstance(group, str) else list(group)
    med = df.groupBy(*keys).agg(
        F.percentile(F.col(value_col), F.lit(0.5)).alias("__med__"),
    )
    with_med = df.join(med, keys)
    mad = (
        with_med.groupBy(*keys)
        .agg(
            F.percentile(
                F.abs(F.col(value_col) - F.col("__med__")), F.lit(0.5),
            ).alias("__mad__"),
        )
    )
    scored = with_med.join(mad, keys)
    mod_z = F.lit(0.6745) * (F.col(value_col) - F.col("__med__")) / F.col("__mad__")
    is_out = F.when(
        F.col("__mad__") == 0, F.col(value_col) != F.col("__med__"),
    ).otherwise(F.abs(mod_z) > z_threshold)
    return (
        scored.withColumn(
            "mod_z",
            F.when(F.col("__mad__") != 0, _maybe_round(mod_z, round_to)),
        )
        .withColumn(out_col, is_out)
        .drop("__med__", "__mad__")
    )


#: Cumulative Poisson(1) thresholds for the deterministic bootstrap:
#: a uniform u maps to weight w = #{thresholds < u} (truncated at 6).
_POISSON1_CDF = [
    0.36787944117144233,  # P(X <= 0)
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
]


def grouped_bootstrap_ci(
    df: DataFrame,
    group: Sequence[str] | str,
    value_col: str,
    n_resamples: int = 50,
    lo_q: float = 0.025,
    hi_q: float = 0.975,
    seed: str = "boot",
    id_col: Optional[str] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Percentile-bootstrap confidence interval for each group's MEAN,
    computed fully distributed and fully deterministically.

    The classic bootstrap resamples n rows with replacement — a
    shuffle-per-resample disaster at scale. The Poisson bootstrap
    (Chamandy et al. 2012, "Estimating Uncertainty for Massive Data
    Streams" — the method built for exactly this setting) replaces
    multinomial resampling with an independent Poisson(1) weight per
    (row, resample): one explode of ``n_resamples`` per row, one
    weighted aggregation per (group, resample), one exact-percentile
    aggregation per group. Three linear passes, no collect.

    Weights derive from ``hash48(id ':' seed ':' b)`` through the
    Poisson(1) inverse CDF (truncated at 5) — reproducible across
    runs/engines, SQL-replayable. Without ``id_col`` the resample id
    is (group, value, occurrence-index): the occurrence index (one
    row_number window on the same group hash) makes duplicate
    (group, value) rows draw INDEPENDENT weights — a value-only id
    would give duplicates perfectly correlated weights in every
    resample and silently narrow the CI. Results are deterministic
    either way (duplicates are interchangeable, so which physical row
    gets which index cannot change any resample mean).

    Returns (group…, ``mean``, ``ci_lo``, ``ci_hi``, ``n``).
    """
    keys = [group] if isinstance(group, str) else list(group)
    if n_resamples < 2:
        raise ValueError(f"n_resamples must be >= 2, got {n_resamples}")
    from rdsa_utils_spark.operators.sampling import _HEX_DIGITS

    if id_col:
        rid = F.col(id_col)
    else:
        occ = F.row_number().over(
            Window.partitionBy(*keys, value_col).orderBy(F.col(value_col)),
        )
        rid = F.concat_ws(
            "|", *[F.col(c).cast("string") for c in keys],
            F.col(value_col).cast("string"),
            occ.cast("string"),
        )
    # Pin the pre-explode projection: it feeds BOTH the resample branch
    # and the base mean/count branch, and without the pin AQE re-plans
    # the shared scan per branch with run-to-run timing spread (the
    # mixed_corpus device; measured 2.7× -> 1.3× there).
    src = df.select(
        *keys,
        F.col(value_col).alias("__v"),
        rid.cast("string").alias("__rid"),
    ).transform(pin)
    exploded = src.select(
        *keys, "__v", "__rid",
        F.explode(F.sequence(F.lit(0), F.lit(n_resamples - 1))).alias("__b"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("__rid"), F.lit(":" + seed + ":"),
                        F.col("__b").cast("string"),
                    ),
                ),
                1, _HEX_DIGITS,
            ),
            16, 10,
        ).cast("double")
        / F.lit(float(16 ** _HEX_DIGITS))
    )
    w = F.lit(len(_POISSON1_CDF))
    for i in reversed(range(len(_POISSON1_CDF))):
        w = F.when(u < F.lit(_POISSON1_CDF[i]), F.lit(i)).otherwise(w)
    per_resample = (
        exploded.withColumn("__w", w)
        .groupBy(*keys, "__b")
        .agg(
            F.when(
                F.sum("__w") > 0,
                F.sum(F.col("__w") * F.col("__v")) / F.sum("__w"),
            ).alias("__mean_b"),  # NULL for an all-zero-weight resample
        )
        .filter(F.col("__mean_b").isNotNull())
    )
    cis = per_resample.groupBy(*keys).agg(
        F.percentile(F.col("__mean_b"), F.lit(lo_q)).alias("__lo"),
        F.percentile(F.col("__mean_b"), F.lit(hi_q)).alias("__hi"),
    )
    base = src.groupBy(*keys).agg(
        F.avg("__v").alias("__mean"), F.count(F.lit(1)).alias("n"),
    )
    out = base.join(cis, keys)
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return out.select(
        *keys,
        rnd(F.col("__mean")).alias("mean"),
        rnd(F.col("__lo")).alias("ci_lo"),
        rnd(F.col("__hi")).alias("ci_hi"),
        "n",
    )


def ab_test_report(
    df: DataFrame,
    group_col: str,
    metric_col: str,
    control: str,
    treatment: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Two-sample A/B comparison of a metric: per-arm n/mean/variance,
    absolute and relative lift, and the Welch t statistic (unequal
    variances — the correct default; a pooled-variance t silently
    assumes equal spread). P-values are left to the caller's CDF of
    choice — the statistic is the engine's job, the threshold is not.

    One aggregation over both arms (map-side combined), one 1×1 row
    reshape. Returns a single row: (n_c, n_t, mean_c, mean_t, lift,
    rel_lift, welch_t, dof) with Welch–Satterthwaite degrees of
    freedom.
    """
    agg = (
        df.filter(F.col(group_col).isin([control, treatment]))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(metric_col).alias("m"),
            F.var_samp(metric_col).alias("v"),
        )
    )
    c = agg.filter(F.col(group_col) == control).select(
        F.col("n").alias("n_c"), F.col("m").alias("m_c"), F.col("v").alias("v_c"),
    )
    t = agg.filter(F.col(group_col) == treatment).select(
        F.col("n").alias("n_t"), F.col("m").alias("m_t"), F.col("v").alias("v_t"),
    )
    row = c.crossJoin(t)
    se2_c = F.col("v_c") / F.col("n_c")
    se2_t = F.col("v_t") / F.col("n_t")
    se = F.sqrt(se2_c + se2_t)
    # ANSI mode: x/0 THROWS, it does not return NULL — guard every
    # degenerate-but-valid denominator (zero control mean for
    # net/difference metrics; both arm variances 0 → se = 0) so such
    # inputs yield NULL statistics instead of aborting the job.
    welch_t = F.when(se > 0, (F.col("m_t") - F.col("m_c")) / se)
    dof_den = F.when(
        (F.col("n_c") > 1) & (F.col("n_t") > 1),
        se2_c * se2_c / (F.col("n_c") - 1) + se2_t * se2_t / (F.col("n_t") - 1),
    )
    dof = F.when(dof_den > 0, (se2_c + se2_t) * (se2_c + se2_t) / dof_den)
    rel_lift = F.when(
        F.col("m_c") != 0, (F.col("m_t") - F.col("m_c")) / F.col("m_c"),
    )
    rnd = (lambda x: F.round(x, round_to)) if round_to is not None else (lambda x: x)
    return row.select(
        "n_c",
        "n_t",
        rnd(F.col("m_c")).alias("mean_c"),
        rnd(F.col("m_t")).alias("mean_t"),
        rnd(F.col("m_t") - F.col("m_c")).alias("lift"),
        rnd(rel_lift).alias("rel_lift"),
        rnd(welch_t).alias("welch_t"),
        rnd(dof).alias("dof"),
    )


def cuped_adjust(
    df: DataFrame,
    metric_col: str,
    covariate_col: str,
    out_col: str = "metric_cuped",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013): adjust the
    experiment metric with a pre-experiment covariate —
    ``y' = y − θ·(x − mean(x))`` with ``θ = cov(x, y)/var(x)`` — the
    industry-standard way to shrink A/B confidence intervals without
    more traffic. Means are preserved (E[y'] = E[y]); variance drops
    by the squared correlation.

    θ and mean(x) come from ONE global aggregation (``covar_samp`` /
    ``var_samp`` are algebraic — map-side partials) broadcast back as
    a 1-row frame. Zero-variance covariates leave the metric
    unchanged (θ = 0), not divide-by-zero.
    """
    stats = df.agg(
        F.covar_samp(covariate_col, metric_col).alias("__cov"),
        F.var_samp(covariate_col).alias("__var"),
        F.avg(covariate_col).alias("__mx"),
    )
    theta = F.when(F.col("__var") > 0, F.col("__cov") / F.col("__var")).otherwise(
        F.lit(0.0),
    )
    adjusted = F.col(metric_col) - theta * (F.col(covariate_col) - F.col("__mx"))
    rnd = (lambda x: F.round(x, round_to)) if round_to is not None else (lambda x: x)
    return (
        df.crossJoin(stats)
        .withColumn(out_col, rnd(adjusted))
        .drop("__cov", "__var", "__mx")
    )


def post_stratified_mean(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    population_shares: dict,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Post-stratified estimator: re-weight per-stratum sample means
    by KNOWN population shares — the official-statistics correction
    for a sample whose strata mix doesn't match the population
    (survey non-response, quota drift). ``population_shares`` maps
    stratum → share; shares are normalized over the strata actually
    present (strata with no sample rows contribute nothing and are
    reported via ``missing_strata``).

    One aggregation + driver arithmetic over |strata| rows. Returns a
    single row: (``estimate``, ``naive_mean``, ``n``,
    ``missing_strata``).
    """
    if not population_shares:
        raise ValueError("population_shares must be non-empty")
    per = df.groupBy(F.col(strata_col).alias("__s")).agg(
        F.avg(value_col).alias("__m"),
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col(value_col).cast("decimal(38,6)")).alias("__sum"),
    )
    rows = per.collect()  # |strata| rows — catalog-sized, never data-sized
    present = {r["__s"]: r for r in rows}
    weights = {
        s: w for s, w in population_shares.items() if s in present and w > 0
    }
    total_w = sum(weights.values())
    missing = sorted(
        str(s) for s in population_shares if s not in present
    )
    n = sum(r["__n"] for r in rows)
    naive = float(sum(float(r["__sum"]) for r in rows)) / n if n else None
    est = (
        sum(float(present[s]["__m"]) * (w / total_w) for s, w in weights.items())
        if total_w > 0
        else None
    )
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(est, naive, n, ",".join(missing))],
        "estimate double, naive_mean double, n long, missing_strata string",
    )
    if round_to is not None:
        out = out.select(
            F.round("estimate", round_to).alias("estimate"),
            F.round("naive_mean", round_to).alias("naive_mean"),
            "n",
            "missing_strata",
        )
    return out


def ratio_estimator(
    df: DataFrame,
    y_col: str,
    x_col: str,
    population_x_total: float,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Survey ratio estimator: ``Ŷ = (Σy / Σx) · X_pop`` — estimate a
    population total for ``y`` using a correlated auxiliary ``x``
    whose POPULATION total is known (register turnover, benchmark
    counts). The classic official-statistics estimator; more
    efficient than expansion when y ∝ x.

    One decimal-exact aggregation. Returns a single row:
    (``ratio``, ``y_hat``, ``sample_y``, ``sample_x``, ``n``).
    """
    agg = df.agg(
        F.sum(F.col(y_col).cast("decimal(38,6)")).alias("__sy"),
        F.sum(F.col(x_col).cast("decimal(38,6)")).alias("__sx"),
        F.count(F.lit(1)).alias("n"),
    )
    # ANSI mode: guard Σx = 0 (a degenerate-but-valid sample) → NULL
    # ratio/estimate rather than DIVIDE_BY_ZERO aborting the job.
    ratio = F.when(
        F.col("__sx") != 0,
        F.col("__sy").cast("double") / F.col("__sx").cast("double"),
    )
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return agg.select(
        rnd(ratio).alias("ratio"),
        rnd(ratio * F.lit(float(population_x_total))).alias("y_hat"),
        rnd(F.col("__sy").cast("double")).alias("sample_y"),
        rnd(F.col("__sx").cast("double")).alias("sample_x"),
        "n",
    )


def price_index(
    df: DataFrame,
    period_col: str,
    item_col: str,
    price_col: str,
    qty_col: str,
    base_period,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Bilateral price indices per period against a fixed base:
    Laspeyres (base-quantity weights), Paasche (current-quantity
    weights) and Fisher (their geometric mean) — the official-
    statistics index-number core. Matched-items only: an item prices
    into period t's index iff it exists in BOTH the base period and t
    (the standard matched-sample rule; unmatched items are the
    item-replacement problem, out of scope here).

    Per period: ``L = Σ p_t·q_0 / Σ p_0·q_0``,
    ``P = Σ p_t·q_t / Σ p_0·q_t``, ``F = √(L·P)``, all scaled to 100.
    One (period, item) aggregation, one broadcast-friendly join of
    every period against the base-period item frame (item-keyed hash
    join), one period rollup — decimal-exact accumulation.

    Returns (``period``, ``n_items``, ``laspeyres``, ``paasche``,
    ``fisher``); the base period row is 100 by construction.
    """
    per = df.groupBy(
        F.col(period_col).alias("period"), F.col(item_col).alias("__item"),
    ).agg(
        # decimal-sum then ONE double division — plain double F.avg is
        # accumulation-order-dependent, undercutting the engine-exact
        # replay contract the expenditure sums already honor
        (
            F.sum(F.col(price_col).cast("decimal(38,6)")).cast("double")
            / F.count(price_col)
        ).alias("__p"),
        F.sum(F.col(qty_col).cast("decimal(38,6)")).alias("__q"),
    )
    # Pin the (period, item) aggregate: it feeds BOTH the base-period
    # frame and the matched join's left side, and Spark shares no
    # subtrees across a self-join — without the pin the full
    # corpus-sized join+agg upstream executes once per consumer
    # (r12 plan audit: 2 parquet scans of the fact table). The pinned
    # frame is (n_items × n_periods) rows — dimension-table sized.
    per = per.transform(pin)
    base = per.filter(F.col("period") == base_period).select(
        "__item",
        F.col("__p").alias("__p0"),
        F.col("__q").alias("__q0"),
    )
    joined = per.join(base, "__item")  # matched items only
    d = lambda c: c.cast("decimal(38,6)")
    rolled = joined.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(d(F.col("__p") * F.col("__q0"))).alias("__pt_q0"),
        F.sum(d(F.col("__p0") * F.col("__q0"))).alias("__p0_q0"),
        F.sum(d(F.col("__p") * F.col("__q"))).alias("__pt_qt"),
        F.sum(d(F.col("__p0") * F.col("__q"))).alias("__p0_qt"),
    )
    # ANSI mode: a zero base-period denominator (free items, net-zero
    # quantities) yields NULL for that period, not DIVIDE_BY_ZERO.
    las = F.when(
        F.col("__p0_q0") != 0,
        F.col("__pt_q0").cast("double") / F.col("__p0_q0").cast("double") * 100,
    )
    paa = F.when(
        F.col("__p0_qt") != 0,
        F.col("__pt_qt").cast("double") / F.col("__p0_qt").cast("double") * 100,
    )
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return rolled.select(
        "period",
        "n_items",
        rnd(las).alias("laspeyres"),
        rnd(paa).alias("paasche"),
        rnd(F.sqrt(las * paa)).alias("fisher"),
    )


def gini_coefficient(
    df: DataFrame,
    group: Sequence[str] | str,
    value_col: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Exact Gini coefficient per group (non-negative values):
    ``G = (2·Σ i·x_(i)) / (n·Σ x) − (n+1)/n`` over rank-sorted values
    — the inequality measure of official income statistics. One
    keyed window (rank) + one aggregation on the same hash; ties
    break on value order only, which leaves G unchanged (the formula
    is invariant to permutations within equal values).

    Groups with ``Σx = 0`` or a single row yield NULL.
    Returns (group…, ``gini``, ``n``).
    """
    keys = [group] if isinstance(group, str) else list(group)
    w = Window.partitionBy(*keys).orderBy(F.col(value_col).asc())
    ranked = df.withColumn("__i__", F.row_number().over(w))
    agg = ranked.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(value_col).cast("decimal(38,6)")).alias("__sx"),
        F.sum(
            (F.col("__i__") * F.col(value_col)).cast("decimal(38,6)"),
        ).alias("__six"),
    )
    n = F.col("n").cast("double")
    g = (
        2.0 * F.col("__six").cast("double") / (n * F.col("__sx").cast("double"))
        - (n + 1.0) / n
    )
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return agg.select(
        *keys,
        rnd(
            F.when((F.col("__sx") > 0) & (F.col("n") > 1), g),
        ).alias("gini"),
        "n",
    )


def hhi_concentration(
    df: DataFrame,
    market_col: str,
    firm_col: str,
    value_col: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Herfindahl–Hirschman concentration index per market:
    ``HHI = Σ s_f²`` over firm shares (0–10000 scale, the antitrust
    convention). Two aggregations sharing the market hash (firm
    totals, then squared-share sum). Returns (``market``,
    ``n_firms``, ``hhi``)."""
    firm = df.groupBy(
        F.col(market_col).alias("market"), F.col(firm_col).alias("__f"),
    ).agg(F.sum(F.col(value_col).cast("decimal(38,6)")).alias("__v"))
    tot = firm.groupBy("market").agg(F.sum("__v").alias("__tot"))
    # ANSI mode: a market whose value total is 0 gets NULL shares (→
    # NULL hhi, since sum over all-NULL is NULL) instead of aborting.
    share = F.when(
        F.col("__tot") != 0,
        F.col("__v").cast("double") / F.col("__tot").cast("double"),
    )
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return (
        firm.join(tot, "market")
        .groupBy("market")
        .agg(
            F.count(F.lit(1)).alias("n_firms"),
            rnd(F.sum(share * share) * 10_000).alias("hhi"),
        )
    )


def lorenz_points(
    df: DataFrame,
    group: Sequence[str] | str,
    value_col: str,
    n_points: int = 10,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Lorenz-curve points per group: at each population decile (or
    ``n_points``-ile) of units sorted by value ascending, the
    cumulative share of total value — the distributional picture
    behind :func:`gini_coefficient` (income statistics, market
    concentration, corpus-contribution audits).

    One keyed rank window + a running decimal-exact sum on the same
    hash, then one row per (group, point): the point ``p`` reports
    the largest cumulative share among the first ``⌈p·n/n_points⌉``
    units. Returns (group…, ``point``, ``pop_share``,
    ``value_share``).
    """
    keys = [group] if isinstance(group, str) else list(group)
    if n_points < 2:
        raise ValueError(f"n_points must be >= 2, got {n_points}")
    w = Window.partitionBy(*keys).orderBy(F.col(value_col).asc())
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = (
        df.withColumn("__i__", F.row_number().over(w))
        .withColumn(
            "__cum__",
            F.sum(F.col(value_col).cast("decimal(38,6)")).over(wc),
        )
        .withColumn("__n__", F.count(F.lit(1)).over(Window.partitionBy(*keys)))
        .withColumn(
            "__tot__",
            F.sum(F.col(value_col).cast("decimal(38,6)")).over(
                Window.partitionBy(*keys),
            ),
        )
    )
    point = F.ceil(F.col("__i__") * n_points / F.col("__n__")).cast("int")
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return (
        ranked.withColumn("__pt__", point)
        .groupBy(*keys, F.col("__pt__").alias("point"))
        .agg(
            rnd(
                F.max(F.col("__i__")).cast("double") / F.max("__n__"),
            ).alias("pop_share"),
            rnd(
                F.max(
                    F.when(
                        F.col("__tot__") != 0,
                        F.col("__cum__").cast("double")
                        / F.col("__tot__").cast("double"),
                    ),
                ),
            ).alias("value_share"),
        )
        .orderBy(*keys, "point")
    )


def chained_index(
    df: DataFrame,
    period_col: str,
    item_col: str,
    price_col: str,
    qty_col: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Chain-linked Fisher price index: each period links to its
    IMMEDIATELY PREVIOUS period (matched items per link), and the
    index is the running product of links ×100 — the official-
    statistics practice that keeps weights fresh and survives item
    churn that a fixed-base index (:func:`price_index`) cannot.

    The running product is ``exp`` of a window cumulative sum of
    ``ln(link)`` — no iteration, one period-ordered window over a
    period-cardinality frame. Link joins are item-keyed equi-joins
    between consecutive period aggregates.

    Returns (``period``, ``n_items``, ``link_fisher``,
    ``chained_fisher``); the first period is 100 with a NULL link.
    """
    per = df.groupBy(
        F.col(period_col).alias("period"), F.col(item_col).alias("__item"),
    ).agg(
        # decimal-sum then ONE double division — plain double F.avg is
        # accumulation-order-dependent, undercutting the engine-exact
        # replay contract the expenditure sums already honor
        (
            F.sum(F.col(price_col).cast("decimal(38,6)")).cast("double")
            / F.count(price_col)
        ).alias("__p"),
        F.sum(F.col(qty_col).cast("decimal(38,6)")).alias("__q"),
    )
    # Pin as in price_index: per feeds the period table, the current
    # side AND the previous side of every link join — 3 full upstream
    # replays without the pin (r12).
    per = per.transform(pin)
    periods = per.select("period").distinct()
    # period-table-sized frame: constant non-foldable partition key
    # silences the WindowExec global-window warning without changing
    # the single-partition execution (round-12 hygiene; a foldable
    # F.lit(0) would be optimized out of the spec)
    from rdsa_utils_spark.operators.windows import constant_partition_key

    wp = Window.partitionBy(constant_partition_key("period")).orderBy("period")
    prev_map = periods.withColumn("__prev", F.lag("period").over(wp))
    cur = per.join(prev_map, "period")
    prev = per.select(
        F.col("period").alias("__prev"),
        F.col("__item"),
        F.col("__p").alias("__p0"),
        F.col("__q").alias("__q0"),
    )
    matched = cur.join(prev, ["__prev", "__item"])
    d = lambda c: c.cast("decimal(38,6)")
    links = matched.groupBy("period").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(d(F.col("__p") * F.col("__q0"))).alias("__pt_q0"),
        F.sum(d(F.col("__p0") * F.col("__q0"))).alias("__p0_q0"),
        F.sum(d(F.col("__p") * F.col("__q"))).alias("__pt_qt"),
        F.sum(d(F.col("__p0") * F.col("__q"))).alias("__p0_qt"),
    )
    # ANSI guards as in price_index; a degenerate link (zero
    # denominator or non-positive product) is NULL and chains as 1.
    las = F.when(
        F.col("__p0_q0") != 0,
        F.col("__pt_q0").cast("double") / F.col("__p0_q0").cast("double"),
    )
    paa = F.when(
        F.col("__p0_qt") != 0,
        F.col("__pt_qt").cast("double") / F.col("__p0_qt").cast("double"),
    )
    link = F.when(las * paa > 0, F.sqrt(las * paa))
    with_links = periods.join(
        links.select("period", "n_items", link.alias("__link")), "period", "left",
    )
    chained = F.exp(
        F.sum(F.log(F.coalesce(F.col("__link"), F.lit(1.0)))).over(
            wp.rowsBetween(Window.unboundedPreceding, Window.currentRow),
        ),
    ) * 100.0
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    return with_links.select(
        "period",
        F.coalesce("n_items", F.lit(0)).alias("n_items"),
        rnd(F.col("__link")).alias("link_fisher"),
        rnd(chained).alias("chained_fisher"),
    ).orderBy("period")


def kaplan_meier(
    df: DataFrame,
    group_cols: Sequence[str],
    duration_col: str,
    event_col: str,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Per-group Kaplan-Meier survival curve: for each observed EVENT
    time t, the number at risk just before t, the events d at t, and
    the product-limit estimate S(t) = Π_{t_i ≤ t} (1 − d_i / n_i).
    ``event_col`` is 1/true for an observed event, 0/false for a
    right-censored observation (censored rows shrink the risk set but
    never drop the curve). Output: (group, t, n_risk, n_events,
    survival), event times only.

    Time-to-event analysis is a survey/official-statistics staple
    (business survival, benefit-spell durations, time-to-fill) the
    reference's aggregation surface stops short of.

    Plan shape: one groupBy to per-(group, t) counts — the shuffle —
    then two window passes over the SAME partitioning (AQE reuses the
    exchange): cumulative removals give n_risk, and the cumulative
    sum of log(1 − d/n) gives the product limit in log space (exact
    same accumulation order under any engine: ordered by t). A group
    whose risk set empties (d = n at the last time) pins S = 0 from
    there on rather than feeding log(0).
    """
    gcols = list(group_cols)
    per_t = df.groupBy(
        *gcols, F.col(duration_col).alias("t"),
    ).agg(
        F.sum(F.col(event_col).cast("long")).alias("n_events"),
        F.count(F.lit(1)).alias("__removed__"),
    )
    w_all = Window.partitionBy(*gcols)
    w_ord = Window.partitionBy(*gcols).orderBy("t")
    cum = (
        per_t.withColumn("__n_total__", F.sum("__removed__").over(w_all))
        .withColumn("__cum_removed__", F.sum("__removed__").over(w_ord))
        .withColumn(
            "n_risk",
            F.col("__n_total__") - F.col("__cum_removed__") + F.col("__removed__"),
        )
    )
    factor = F.lit(1.0) - F.col("n_events") / F.col("n_risk")  # n_risk ≥ 1
    cum = cum.withColumn(
        "__logf__", F.when(factor > 0, F.log(factor)).otherwise(F.lit(0.0)),
    ).withColumn("__dead__", F.when(factor <= 0, F.lit(1)).otherwise(F.lit(0)))
    surv = (
        F.when(F.max("__dead__").over(w_ord) == 1, F.lit(0.0))
        .otherwise(F.exp(F.sum("__logf__").over(w_ord)))
    )
    out = (
        cum.withColumn("survival", surv)
        .filter(F.col("n_events") > 0)
        .select(*gcols, "t", "n_risk", "n_events", "survival")
    )
    if round_to is not None:
        out = out.withColumn(
            "survival", F.round("survival", round_to) + F.lit(0.0),
        )
    return out


def weighted_quantiles(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    weight_col: str,
    quantiles: Sequence[float] = (0.5,),
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Per-group weighted lower quantiles: for each q, the smallest
    value v whose cumulative weight reaches q · (total weight) — the
    design-weighted median/percentile of survey estimation, where each
    record stands for ``weight_col`` population units. Output:
    (group, q, weighted_quantile, cum_weight_share).

    Plan shape: ONE shuffle on the group key — per-distinct-value
    weight totals (groupBy), a cumulative-weight window ordered by
    value (deterministic: ties pre-aggregated), then each quantile is
    a filtered min over the same frame (quantile list explodes to a
    tiny constant fan-out, no extra shuffle). Cross-engine exactness:
    the cumulative sum runs in value order on both engines, so the
    q·W threshold comparison lands on the same row.
    """
    if not quantiles or any(not (0.0 < q <= 1.0) for q in quantiles):
        raise ValueError(f"quantiles must lie in (0, 1], got {quantiles!r}")
    gcols = list(group_cols)
    dist = df.groupBy(*gcols, F.col(value_col).alias("__v__")).agg(
        F.sum(weight_col).alias("__wsum__"),
    )
    w_all = Window.partitionBy(*gcols)
    w_ord = Window.partitionBy(*gcols).orderBy("__v__")
    cum = dist.withColumn("__cumw__", F.sum("__wsum__").over(w_ord)).withColumn(
        "__W__", F.sum("__wsum__").over(w_all),
    )
    qdf = cum.select(
        *gcols, "__v__", "__cumw__", "__W__",
        F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q"),
    )
    hit = qdf.filter(F.col("__cumw__") >= F.col("q") * F.col("__W__"))
    winner = hit.groupBy(*gcols, "q").agg(
        F.min_by(
            F.struct(F.col("__v__"), F.col("__cumw__"), F.col("__W__")), F.col("__v__"),
        ).alias("__win__"),
    )
    out = winner.select(
        *gcols,
        "q",
        F.col("__win__.__v__").alias("weighted_quantile"),
        F.when(
            F.col("__win__.__W__") != 0,
            F.col("__win__.__cumw__") / F.col("__win__.__W__"),
        ).alias("cum_weight_share"),  # NULL for an all-zero-weight group (ANSI-safe)
    )
    if round_to is not None:
        out = out.withColumn(
            "cum_weight_share", F.round("cum_weight_share", round_to) + F.lit(0.0),
        ).withColumn(
            "weighted_quantile", F.round("weighted_quantile", round_to) + F.lit(0.0),
        )
    return out


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    group_by: Optional[Sequence[str]] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    label columns (two annotators, or model-vs-gold): ``(po - pe) /
    (1 - pe)`` with ``po`` the observed agreement rate and ``pe`` the
    agreement expected from each side's label marginals. The
    labeled-data QA metric: raw agreement over-credits skewed label
    distributions; kappa doesn't.

    Returns one row per group: ``(…group, n, po, pe, kappa)``;
    ``kappa`` is NULL when ``pe = 1`` (both sides constant — chance
    agreement saturates and kappa is undefined).

    Façade over the canonical integer-exact implementation in
    :func:`rdsa_utils_spark.operators.evaluate.cohens_kappa` (kept
    here for the stats-namespace signature and the ``po``/``pe``
    columns; one kappa algorithm lives in the engine, not two).
    """
    from rdsa_utils_spark.operators.evaluate import cohens_kappa as _kappa

    return _kappa(
        df,
        rater_a,
        rater_b,
        by=list(group_by) if group_by else None,
        round_to=round_to,
        include_rates=True,
    )


def ks_statistic(
    df: DataFrame,
    value_col: str,
    sample_col: str,
    left: str,
    right: str,
    group_by: Optional[Sequence[str]] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic ``D = sup_x |F_left(x)
    - F_right(x)|`` between the ``value_col`` distributions of the two
    named samples — the distribution-drift gate (train-vs-serve
    feature drift, corpus-vs-corpus quality-score shift) that, unlike
    binned chi-square/JS, needs no binning choice.

    ECDFs use RANGE window frames (ties collapse to a single step, as
    the ECDF definition requires). Returns one row per group:
    ``(…group, n_left, n_right, ks)``.

    Façade over the canonical integer-exact implementation in
    :func:`rdsa_utils_spark.operators.drift.ks_2sample` (label-pair
    signature and ``n_left``/``n_right`` names kept; the D statistic
    there is computed over the DISTINCT-value aggregate in pure
    integer arithmetic — same ECDF, bounded window input, replayable
    to the last bit). Rows whose ``sample_col`` is neither ``left``
    nor ``right`` are excluded, as before.
    """
    from rdsa_utils_spark.operators.drift import ks_2sample as _ks

    from rdsa_utils_spark.functions.columns import resolve_field_type
    from pyspark.sql.types import NumericType, StringType

    keys = list(group_by) if group_by else []
    # Numeric ECDF semantics: a string-typed numeric column would
    # otherwise order lexicographically ('10' < '9'). Dispatch on the
    # column type — strings TRY-cast (a stray 'N/A' becomes NULL and
    # is excluded like any NULL value, instead of an ANSI cast error
    # killing the job); dates/timestamps and other orderable types
    # keep their native ordering (already the correct ECDF order).
    t = resolve_field_type(df, value_col)
    if isinstance(t, NumericType):
        v = F.col(value_col).cast("double")
    elif isinstance(t, StringType):
        v = F.col(value_col).try_cast("double")
    else:
        v = F.col(value_col)
    base = (
        df.filter(F.col(sample_col).isin([left, right]))
        .withColumn("__is_left__", F.col(sample_col) == F.lit(left))
        .withColumn("__ks_v__", v)
    )
    out = _ks(
        base,
        "__ks_v__",
        "__is_left__",
        by=keys,
        round_to=round_to,
    )
    return out.select(
        *keys,
        F.col("n_a").alias("n_left"),
        F.col("n_b").alias("n_right"),
        "ks",
    )


def categorical_entropy(
    df: DataFrame,
    cat_col: str,
    group_by: Optional[Sequence[str]] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Shannon entropy (bits) of a categorical column per group — the
    diversity gauge for source / language / label mixes: entropy
    collapsing toward 0 means the mix is degenerating into one
    category, and the normalized form (``H / log2(k)``, in [0, 1])
    compares groups with different category counts.

    ``H = −Σ p·log2(p)`` over the per-group category proportions
    (NULL categories count as a real category, matching SQL GROUP
    BY). Per-category terms quantize to 9 dp before the decimal-exact
    sum — the repo-wide recipe for irrational folds, so the scalar
    replays cross-engine.

    One map-side-combinable shuffle to (group, category) counts, then
    |categories| rows per group. Returns ``…group, n, k,
    entropy, entropy_norm`` (``entropy_norm`` NULL when k = 1 —
    nothing to normalize by).
    """
    keys = list(group_by) if group_by else []
    cells = df.groupBy(*keys, F.col(cat_col).alias("__c__")).agg(
        F.count(F.lit(1)).alias("__m__"),
    )
    wg = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    withn = cells.withColumn("__n__", F.sum("__m__").over(wg))
    p = F.col("__m__").cast("double") / F.col("__n__").cast("double")
    term = F.round(-(p * F.log2(p)), 9)
    agg = withn.groupBy(*keys).agg(
        F.max("__n__").alias("n"),
        F.count(F.lit(1)).alias("k"),
        F.round(
            F.sum(term.cast("decimal(38,12)")).cast("double"),
            round_to if round_to is not None else 9,
        ).alias("entropy"),
    )
    return agg.select(
        *keys,
        "n",
        "k",
        "entropy",
        F.when(
            F.col("k") > 1,
            F.round(
                F.col("entropy") / F.log2(F.col("k").cast("double")),
                round_to if round_to is not None else 9,
            ),
        ).alias("entropy_norm"),
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_by: Optional[Sequence[str]] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Mutual information (bits) between two categorical columns per
    group — the model-free association gauge for curation features
    ("does source predict language?", "is the quality label
    independent of the domain?"): 0 means independent, and MI is
    bounded by min(H_x, H_y).

    ``MI = Σ_{x,y} p_xy · log2(p_xy / (p_x·p_y))`` computed from the
    joint (group, x, y) count cells with marginals attached by window
    sums OVER THE CELL GRID (|x-categories|·|y-categories| rows per
    group — metadata-sized, never the data). Integer counts stay
    exact in doubles below 2^53; per-cell terms quantize to 9 dp
    before the decimal-exact sum. Rows where either column is NULL
    are excluded (a NULL carries no category identity for
    association). Returns ``…group, n, mi``.
    """
    keys = list(group_by) if group_by else []
    cells = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(*keys, F.col(x_col).alias("__x__"), F.col(y_col).alias("__y__"))
        .agg(F.count(F.lit(1)).alias("__m__"))
    )
    wg = Window.partitionBy(*keys) if keys else Window.partitionBy(F.lit(1))
    wx = Window.partitionBy(*keys, "__x__")
    wy = Window.partitionBy(*keys, "__y__")
    withm = (
        cells.withColumn("__n__", F.sum("__m__").over(wg))
        .withColumn("__mx__", F.sum("__m__").over(wx))
        .withColumn("__my__", F.sum("__m__").over(wy))
    )
    c = F.col("__m__").cast("double")
    n = F.col("__n__").cast("double")
    mx = F.col("__mx__").cast("double")
    my = F.col("__my__").cast("double")
    term = F.round((c / n) * F.log2(c * n / (mx * my)), 9)
    return (
        withm.groupBy(*keys)
        .agg(
            F.max("__n__").alias("n"),
            F.round(
                F.sum(term.cast("decimal(38,12)")).cast("double"),
                round_to if round_to is not None else 9,
            ).alias("mi"),
        )
        .select(*keys, "n", "mi")
    )


def tornqvist_index(
    df: DataFrame,
    period_col: str,
    item_col: str,
    price_col: str,
    qty_col: str,
    base_period,
    round_to: int = 6,
) -> DataFrame:
    """Törnqvist bilateral price index per period against a fixed
    base — the superlative sibling of :func:`price_index`'s
    Laspeyres/Paasche/Fisher:
    ``T_t = 100 · exp( Σ_i  ½(s_i0 + s_it) · ln(p_it/p_i0) )`` with
    expenditure shares ``s_it = p_it·q_it / Σ_j p_jt·q_jt`` over the
    MATCHED item set (same matched-sample rule as ``price_index``).
    CPI-manual-preferred when quantity data exists both sides.

    Replay contract: expenditures accumulate in decimal; each item's
    share-weighted log relative quantizes to 12 dp and decimal-sums
    per period, one ``exp`` at the end — engine-exact. Plan: one
    (period, item) aggregation, an item-keyed join against the base
    frame, a period-level expenditure rollup joined back
    (period-cardinality), one final aggregation. Returns
    (``period``, ``n_items``, ``tornqvist``); the base row is 100.
    """
    per = df.groupBy(
        F.col(period_col).alias("period"), F.col(item_col).alias("__item"),
    ).agg(
        # decimal-sum then ONE double division — plain double F.avg is
        # accumulation-order-dependent, undercutting the engine-exact
        # replay contract the expenditure sums already honor
        (
            F.sum(F.col(price_col).cast("decimal(38,6)")).cast("double")
            / F.count(price_col)
        ).alias("__p"),
        F.sum(F.col(qty_col).cast("decimal(38,6)")).alias("__q"),
    )
    # Pin as in price_index (r12): per feeds base AND the matched
    # join; matched additionally feeds the expenditure rollup AND the
    # term frame — without both pins the corpus-sized upstream
    # executes 4+ times (the r12 before-plan shows 4 fact scans).
    per = per.transform(pin)
    base = per.filter(F.col("period") == base_period).select(
        "__item",
        F.col("__p").alias("__p0"),
        F.col("__q").alias("__q0"),
    )
    matched = per.join(base, "__item").transform(pin)
    d = lambda c: c.cast("decimal(38,6)")  # noqa: E731
    exp_tot = matched.groupBy("period").agg(
        F.sum(d(F.col("__p") * F.col("__q"))).alias("__et"),
        F.sum(d(F.col("__p0") * F.col("__q0"))).alias("__e0"),
    )
    joined = matched.join(exp_tot, "period")
    share0 = d(F.col("__p0") * F.col("__q0")).cast("double") / F.col(
        "__e0",
    ).cast("double")
    share_t = d(F.col("__p") * F.col("__q")).cast("double") / F.col(
        "__et",
    ).cast("double")
    term = F.round(
        (share0 + share_t) / F.lit(2.0) * F.log(F.col("__p") / F.col("__p0")),
        12,
    )
    return (
        joined.groupBy("period")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.lit(100.0)
                * F.exp(F.sum(term.cast("decimal(38,12)")).cast("double")),
                round_to,
            ).alias("tornqvist"),
        )
        .orderBy("period")
    )
