"""Preference-data model fitting — the pairwise-comparison layer of an
RLHF/ranking pipeline (no reference counterpart; extension surface).

``bt_ratings`` fits the Bradley–Terry model (P(i beats j) =
w_i/(w_i+w_j)) to a frame of pairwise outcomes by Hunter's (2004) MM
algorithm — the standard strength fit behind preference-tuned reward
models, arena-style leaderboards, and judge-vs-judge calibration. The
whole optimization is DataFrame algebra with per-iteration
quantization, so a fixed-iteration ANSI-SQL unroll replays it
bit-for-bit (the same replay device as the logreg / PageRank / Platt
oracles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin

__all__ = ["bt_ratings", "win_rate_matrix"]


def _dq(x: float, nd: int):
    """Half-up quantization on the shortest decimal repr — THE single
    shared definition lives in
    :mod:`rdsa_utils_spark.functions.quantize` (round-10 review:
    per-module copies needed a lockstep fix when the tie-case
    convention changed); re-exported here for the BT replay callers
    and the tie-case pin tests."""
    from rdsa_utils_spark.functions.quantize import dq

    return dq(x, nd)


def _norm_ppf(p: float) -> float:
    """Inverse standard-normal CDF (Acklam's rational approximation,
    |rel err| < 1.15e-9 — published public-domain algorithm), used to
    turn a confidence level into a z literal. Pure Python on the
    driver so the z embeds as the SAME constant in the Spark plan and
    the SQL oracle; no scipy dependency.
    """
    if not (0.0 < p < 1.0):
        raise ValueError(f"p must be in (0, 1), got {p}")
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        import math

        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q
                + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > phigh:
        import math

        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4]) * q
                 + c[5]) / ((((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4]) * r
            + a[5]) * q / (((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r
                            + b[4]) * r + 1)


def win_rate_matrix(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    *,
    alpha: float = 0.05,
    m_tests: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise win-rate significance matrix — the model-vs-model
    readout that accompanies :func:`bt_ratings` on an arena-style
    leaderboard: for every unordered item pair, the first item's win
    rate with a Wilson (1927) score interval at confidence
    ``1 - alpha/m`` (Bonferroni-corrected for ``m`` simultaneous pair
    tests), and a significance flag (interval excludes 0.5 — the
    "is A genuinely better than B" gate).

    ``m_tests``: the Bonferroni divisor. Pass it explicitly when the
    family of tests is fixed by design (e.g. C(25,2) brand pairs);
    default None counts the observed distinct pairs (one tiny
    aggregate). Wilson (not Wald): correct coverage at small n and
    extreme rates, never leaves [0, 1].

    Returns (``item_a``, ``item_b``, ``n``, ``wins_a``, ``win_rate``,
    ``ci_lo``, ``ci_hi``, ``significant``) with ``item_a < item_b``
    canonically; rates round to ``round_to``.

    Replay contract: z is a driver-computed literal (pure-Python
    inverse normal CDF rounded to 9 dp — the same constant lands in
    the SQL oracle); everything else is closed-form arithmetic on
    exact counts, so the matrix replays bit-for-bit. 100 TB posture:
    one map-side-combined groupBy on the canonical pair reduces the
    outcome stream to the pair-cardinality matrix; all interval math
    runs on that bounded frame. Ties/self-pairs and NULLs excluded.
    """
    import math

    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if m_tests is not None and m_tests < 1:
        raise ValueError(f"m_tests must be >= 1, got {m_tests}")
    w, l = F.col(winner_col), F.col(loser_col)
    outcomes = df.select(w.alias("__w"), l.alias("__l")).filter(
        w.isNotNull() & l.isNotNull() & (w != l),
    )
    pairs = (
        outcomes.select(
            F.least("__w", "__l").alias("item_a"),
            F.greatest("__w", "__l").alias("item_b"),
            (F.col("__w") == F.least("__w", "__l"))
            .cast("long")
            .alias("__a_won"),
        )
        .groupBy("item_a", "item_b")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__a_won").alias("wins_a"),
        )
    )
    if m_tests is None:
        pairs = pairs.transform(pin)  # pair-cardinality
        m_tests = pairs.count()
        if m_tests == 0:
            m_tests = 1
    z = round(_norm_ppf(1.0 - (alpha / m_tests) / 2.0), 9)
    zc = F.lit(float(z))
    n = F.col("n").cast("double")
    p = F.col("wins_a").cast("double") / n
    denom = F.lit(1.0) + zc * zc / n
    center = (p + zc * zc / (F.lit(2.0) * n)) / denom
    half = (
        zc
        * F.sqrt(p * (F.lit(1.0) - p) / n + zc * zc / (F.lit(4.0) * n * n))
        / denom
    )
    lo_raw = F.greatest(F.lit(0.0), center - half)
    hi_raw = F.least(F.lit(1.0), center + half)
    lo = F.round(lo_raw, round_to) + F.lit(0.0)
    hi = F.round(hi_raw, round_to) + F.lit(0.0)
    return pairs.select(
        "item_a",
        "item_b",
        "n",
        "wins_a",
        (F.round(p, round_to) + F.lit(0.0)).alias("win_rate"),
        lo.alias("ci_lo"),
        hi.alias("ci_hi"),
        # significance from the UNROUNDED interval: a true bound within
        # 5e-7 of 0.5 must not flip the flag via display rounding
        ((lo_raw > 0.5) | (hi_raw < 0.5)).alias("significant"),
    ).orderBy("item_a", "item_b")


def bt_ratings(
    df: DataFrame,
    winner_col: str,
    loser_col: str,
    *,
    iterations: int = 8,
    rating_round: int = 9,
    term_round: int = 12,
    max_driver_pairs: int = 65536,
) -> DataFrame:
    """Bradley–Terry strengths from pairwise outcomes via the MM
    update (Hunter 2004, eq. 1.6):

    ``w_i ← W_i / Σ_{j≠i} n_ij / (w_i + w_j)``

    with ``W_i`` = i's total wins and ``n_ij`` = games between i and
    j, then mean-1 normalization (``Σ w = #items``) to pin the scale.
    Returns one row per item: (``item``, ``games``, ``wins``,
    ``rating``), higher = stronger; ordering is the fitted
    preference ranking.

    Replay contract: per-pair terms ``n_ij/(w_i+w_j)`` quantize to
    ``term_round`` dp and sum in decimal (order-exact); the normalized
    rating quantizes to ``rating_round`` dp after EVERY iteration —
    so the fixed-iteration trajectory is engine-independent and a SQL
    oracle can unroll it. Never-winning items converge to rating 0
    (the MM fixed point when W_i = 0 — the model's honest answer).

    100 TB posture: the raw outcome frame reduces to the (item, item)
    game-count matrix in one map-side-combined aggregation; each
    iteration is two equi-joins of that matrix against the
    item-cardinality rating frame plus one groupBy — no driver state,
    no parameter server; ratings are pinned per round
    (the PageRank device). Ties/self-pairs and
    NULL items are excluded.

    ``max_driver_pairs``: when the already-aggregated game matrix has
    at most this many rows (item-PAIR cardinality — 25 models is 600
    directed pairs, never the outcome stream), it is collected once
    and the MM iterations run in pure Python on the same quantized
    arithmetic — a capped, docstring-declared collect, bit-identical
    output BECAUSE the contract is order-independent (every cross-row
    sum is an exact decimal of explicitly-quantized terms; equality
    pinned in tests/test_round7_preference_eval.py). Arena-sized
    leaderboards otherwise pay ``iterations`` scheduler round-trips
    over a sub-kilobyte frame. Pass ``0`` to force the distributed
    path at any size.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    w, l = F.col(winner_col), F.col(loser_col)
    # Pinned: the outcome stream feeds the games union TWICE plus the
    # wins aggregate, so an unpinned frame would re-execute the
    # caller's (potentially join-heavy) upstream three times.
    outcomes = (
        df.select(w.alias("__w"), l.alias("__l"))
        .filter(w.isNotNull() & l.isNotNull() & (w != l))
        .transform(pin)
    )
    games = (
        outcomes.select(F.col("__w").alias("__i"), F.col("__l").alias("__j"))
        .unionAll(
            outcomes.select(
                F.col("__l").alias("__i"), F.col("__w").alias("__j"),
            ),
        )
        .groupBy("__i", "__j")
        .agg(F.count(F.lit(1)).alias("__n"))
        .transform(pin)  # reused every iteration
    )
    wins = outcomes.groupBy(F.col("__w").alias("__i")).agg(
        F.count(F.lit(1)).alias("wins"),
    )
    totals = games.groupBy("__i").agg(F.sum("__n").alias("games"))
    items = (
        totals.join(wins, "__i", "left")
        .select(
            "__i",
            "games",
            F.coalesce("wins", F.lit(0)).alias("wins"),
        )
        .transform(pin)
    )
    n_items = items.count()
    # term_round <= 12 keeps the distributed path's decimal(38,12)
    # casts exact identities of the rounded terms, which is what makes
    # the collected replay bit-equal; a wider term_round falls back to
    # the distributed rounds.
    if max_driver_pairs and term_round <= 12 and (
        games.limit(max_driver_pairs + 1).count() <= max_driver_pairs
    ):
        return _bt_ratings_rows(
            df.sparkSession,
            items.schema["__i"].dataType,
            games.collect(),
            items.collect(),
            iterations=iterations,
            rating_round=rating_round,
            term_round=term_round,
            n_items=n_items,
        )
    ratings = items.select("__i", F.lit(1.0).alias("__r"))
    for _ in range(iterations):
        denom = (
            games.join(
                ratings.select("__i", F.col("__r").alias("__wi")), "__i",
            )
            .join(
                ratings.select(
                    F.col("__i").alias("__j"), F.col("__r").alias("__wj"),
                ),
                "__j",
            )
            .groupBy("__i")
            .agg(
                F.sum(
                    F.round(
                        F.col("__n") / (F.col("__wi") + F.col("__wj")),
                        term_round,
                    ).cast("decimal(38,12)"),
                ).alias("__d"),
            )
        )
        raw = items.join(denom, "__i").select(
            "__i",
            F.round(
                F.col("wins") / F.col("__d").cast("double"), term_round,
            ).alias("__raw"),
        )
        total = raw.agg(
            F.sum(F.col("__raw").cast("decimal(38,12)"))
            .cast("double")
            .alias("__t"),
        )
        ratings = (
            raw.crossJoin(total)
            .select(
                "__i",
                F.round(
                    F.col("__raw") * F.lit(float(n_items)) / F.col("__t"),
                    rating_round,
                ).alias("__r"),
            )
            .transform(pin)
        )
    return (
        items.join(ratings, "__i")
        .select(
            F.col("__i").alias("item"),
            "games",
            "wins",
            F.col("__r").alias("rating"),
        )
        .orderBy("item")
    )


def _bt_ratings_rows(
    spark,
    item_dtype,
    games_rows,
    items_rows,
    *,
    iterations: int,
    rating_round: int,
    term_round: int,
    n_items: int,
) -> DataFrame:
    """The MM loop on a collected game matrix — EXACTLY the
    distributed arithmetic: every term quantized half-up at
    ``term_round`` dp and summed as exact decimals, every normalized
    rating quantized at ``rating_round`` dp, all scalar ops the same
    IEEE doubles Spark executes."""
    from decimal import Decimal

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    dq = _dq

    def rh(x: float, nd: int) -> float:
        return float(dq(x, nd))

    wins = {r["__i"]: int(r["wins"]) for r in items_rows}
    games_tot = {r["__i"]: int(r["games"]) for r in items_rows}
    adj = [(r["__i"], r["__j"], int(r["__n"])) for r in games_rows]
    rating = {i: 1.0 for i in wins}
    for _ in range(iterations):
        denom = {i: Decimal(0) for i in wins}
        for i, j, n in adj:
            denom[i] += dq(n / (rating[i] + rating[j]), term_round)
        raw = {i: rh(wins[i] / float(denom[i]), term_round) for i in wins}
        total = float(
            sum((dq(v, term_round) for v in raw.values()), Decimal(0)),
        )
        rating = {
            i: rh(raw[i] * float(n_items) / total, rating_round)
            for i in wins
        }
    schema = StructType([
        StructField("item", item_dtype),
        StructField("games", LongType()),
        StructField("wins", LongType()),
        StructField("rating", DoubleType()),
    ])
    return spark.createDataFrame(
        [(i, games_tot[i], wins[i], rating[i]) for i in wins], schema,
    ).orderBy("item")
