"""Distributed text classification: multinomial Naive Bayes as pure
DataFrame aggregations.

Extension surface (no reference equivalent). The point is the plan
shape, not the model class: training a text classifier over a 100 TB
corpus reduces to TWO groupBy aggregations (label priors, per-(label,
token) counts) with map-side combine — no parameter server, no driver
state, no Python. Scoring is explode + a broadcast model join + one
sum-per-(doc, label) aggregation and an argmax window. Everything is
log-space with explicit rounding at the edge so an external ANSI-SQL
engine replays the whole train→predict pipeline bit-for-bit (see the
``nb_confusion`` query oracle).
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.text import tokens
from rdsa_utils_spark.plans.tuning import pin


def _round_half_up(x: float, digits: int) -> float:
    """Driver-side quantization matching SQL ``ROUND`` (ties away from
    zero) on the exact binary value. Python's built-in ``round`` is
    ties-to-even: on the rare double that IS a representable decimal
    midpoint (dyadic rationals like 2⁻¹⁰ at 9 dp) the two disagree by
    one ulp of the quantum, which would diverge a trained parameter
    from its unrolled SQL-oracle replay and amplify through the
    remaining iterations. Every driver-side parameter quantization in
    this module must use this, never ``round``.

    Delegates to the single shared definition in
    :mod:`rdsa_utils_spark.functions.quantize` (shortest-repr HALF_UP,
    matching Spark's ``F.round``/``BigDecimal.valueOf`` tie cases —
    see that module for why neither ``round()`` nor ``Decimal(x)``
    works)."""
    from rdsa_utils_spark.functions.quantize import round_half_up

    return round_half_up(x, digits)

__all__ = [
    "train_naive_bayes",
    "naive_bayes_score",
    "target_encode_kfold",
    "train_logreg_hashed",
    "logreg_score_hashed",
    "logreg_score_expr",
    "platt_scale_train",
    "platt_score_expr",
    "woe_iv",
    "isotonic_calibrate",
    "isotonic_apply",
    "isotonic_step_expr",
    "calibrated_gate",
    "calibrated_flag_expr",
    "calibration_bins",
    "expected_calibration_error",
]


def train_naive_bayes(
    df: DataFrame,
    label_col: str,
    text_col: str,
    smoothing: float = 1.0,
    round_to: int = 9,
) -> tuple[DataFrame, DataFrame]:
    """Train multinomial Naive Bayes with Laplace smoothing.

    Returns ``(model, priors)``:

    - ``model``: one row per (label, token) seen under that label —
      ``(label, token, log_cond)`` with ``log_cond =
      ln((count + smoothing) / (label_total + smoothing·V))``, V = the
      GLOBAL distinct-token vocabulary size.
    - ``priors``: one row per label — ``(label, log_prior,
      log_default)`` where ``log_default`` is the smoothed
      log-probability of a token NEVER seen under the label
      (``ln(smoothing / (label_total + smoothing·V))``) — scoring
      needs it for out-of-class tokens without materializing the
      |labels| × V dense grid.

    Plan: one explode + groupBy(label, token) for counts (map-side
    combined), one groupBy(label) for totals, a 1-row vocabulary
    scalar attached by broadcast. Log values round to ``round_to``
    (default 9 dp) so downstream score sums replay identically on
    engines with different float fold orders.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    tok = df.select(
        F.col(label_col).alias("label"),
        F.explode(tokens(F.col(text_col))).alias("token"),
    )
    # Pin `counts`: it feeds the model, the label totals AND the
    # vocabulary scalar — unpinned, every downstream reference (and
    # every broadcast of model/priors at score time) re-executed the
    # corpus explode+aggregate: 13 parquet scans in nb_confusion's
    # plan. The frame is model-sized (labels × V rows), never
    # corpus-sized, so the pin cost is bounded by the vocabulary at
    # any scale.
    counts = tok.groupBy("label", "token").agg(
        F.count(F.lit(1)).alias("__c__"),
    ).transform(pin)
    n_docs = df.count()
    doc_counts = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("__d__"),
    )
    # Label totals keyed by the DOCUMENT label set, not the token
    # cells: a label whose documents are all empty/whitespace has no
    # token rows, and deriving totals from `counts` would drop it
    # from the priors — making that class unpredictable forever.
    label_totals = doc_counts.select("label").join(
        counts.groupBy("label").agg(F.sum("__c__").alias("__n__")),
        "label",
        "left",
    ).select("label", F.coalesce(F.col("__n__"), F.lit(0)).alias("__n__"))
    vocab = counts.select("token").distinct().agg(
        F.count(F.lit(1)).alias("__v__"),
    )

    s = F.lit(float(smoothing))
    denom = F.col("__n__") + s * F.col("__v__")
    model = (
        # broadcast: label_totals reads the counts pin, and a cluster pin's scan has no size statistic
        counts.join(F.broadcast(label_totals), "label")
        .join(vocab)
        .select(
            "label",
            "token",
            (F.round(F.log((F.col("__c__") + s) / denom), round_to) + F.lit(0.0)).alias(
                "log_cond",
            ),
        )
    )
    priors = (
        # broadcast: Catalyst estimates the label-totals join as the product of its inputs
        doc_counts.join(F.broadcast(label_totals), "label")
        .join(vocab)
        .select(
            "label",
            (
                F.round(
                    F.log(F.col("__d__") / F.lit(float(n_docs))), round_to,
                )
                + F.lit(0.0)
            ).alias("log_prior"),
            (F.round(F.log(s / denom), round_to) + F.lit(0.0)).alias("log_default"),
        )
    )
    return model, priors


def naive_bayes_score(
    df: DataFrame,
    model: DataFrame,
    priors: DataFrame,
    id_col: str,
    text_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Predict a label per document: ``argmax_label(log_prior +
    Σ_tokens log_cond)`` with unseen-under-label tokens contributing
    the label's ``log_default``. Returns (``id_col``, ``label_pred``,
    ``log_score``); empty documents score on priors alone.

    Plan: explode tokens, cross the (small) label set, LEFT-join the
    broadcast model on (token, label), coalesce misses to
    ``log_default``, one sum per (doc, label), argmax via a window
    ordered (score desc, label asc) — the deterministic tie-break.
    Scores round to ``round_to`` BEFORE the argmax so prediction
    replays across engines. The model frame is the broadcast side:
    |labels|·V rows of (token, label, double) — for vocabularies past
    broadcast size, the same plan runs as a shuffle equi-join on
    token.
    """
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.explode_outer(tokens(F.col(text_col))).alias("token"),
    )
    lab = priors.select("label", "log_default")
    scored = (
        # broadcast: priors is a join, which Catalyst estimates as the product of its inputs
        tok.crossJoin(F.broadcast(lab))
        # broadcast: the model reads the counts pin, and a cluster pin's scan has no size statistic
        .join(F.broadcast(model), ["token", "label"], "left")
        .groupBy("__id", "label")
        .agg(
            F.sum(
                F.when(F.col("token").isNull(), F.lit(0.0)).otherwise(
                    F.coalesce(F.col("log_cond"), F.col("log_default")),
                ),
            ).alias("__s__"),
        )
    )
    total = (
        scored.join(priors.select("label", "log_prior"), "label")
        .select(
            "__id",
            "label",
            (
                F.round(F.col("log_prior") + F.coalesce(F.col("__s__"), F.lit(0.0)), round_to)
                + F.lit(0.0)
            ).alias("log_score"),
        )
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("log_score").desc(), F.col("label").asc(),
    )
    return (
        total.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .select(
            F.col("__id").alias(id_col),
            F.col("label").alias("label_pred"),
            "log_score",
        )
    )


def _calibration_bin_index(score: Column, n_bins: int) -> Column:
    """THE binning rule shared by :func:`calibration_bins` and
    :func:`expected_calibration_error` (the ECE must summarize the
    same bins the diagram shows): clamp into [0, 1], then
    ``min(floor(score·n), n−1)`` so 1.0 lands in the top bin."""
    clamped = F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0))
    return F.least(F.floor(clamped * n_bins).cast("int"), F.lit(n_bins - 1))


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability-diagram data for a probabilistic scorer: scores
    bucketed into ``n_bins`` equal-width bins over [0, 1]; per bin the
    mean score, observed positive rate, and count — well-calibrated
    scores track the diagonal. The gap drives threshold choice for
    quality-filter cutoffs (a score of 0.9 should MEAN 90%).

    Scores outside [0, 1] are clamped into the edge bins; bin index is
    ``min(floor(score·n), n−1)`` so 1.0 lands in the top bin. One
    map-side-combined aggregation — a single shuffle of ``n_bins``
    partial rows per map task at any scale.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col)
    return (
        df.withColumn("bin", _calibration_bin_index(s, n_bins))
        .groupBy("bin")
        .agg(
            F.round(F.avg(s), round_to).alias("mean_score"),
            F.round(F.avg(F.col(label_col).cast("double")), round_to).alias(
                "positive_rate",
            ),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("bin")
    )


def target_encode_kfold(
    df: DataFrame,
    key_col: str,
    label_col: str,
    id_col: str,
    n_folds: int = 5,
    smoothing: float = 20.0,
    seed: str = "te",
    fold_col: str = "fold",
    out_col: str | None = None,
    round_to: int | None = 9,
) -> DataFrame:
    """Out-of-fold target (mean) encoding with additive smoothing —
    the standard leakage-safe way to turn a high-cardinality
    categorical into a numeric feature: each row's encoding is the
    smoothed mean of ``label_col`` over rows of the SAME key in the
    OTHER folds, so a row never sees its own label.

    Fold assignment hashes ``id_col`` (md5, partition-independent —
    same engine-portable recipe as :func:`~rdsa_utils_spark.operators.
    sampling.hash_uniform`), so folds are reproducible across runs and
    engines. Encoding::

        te = (oof_sum + prior * smoothing) / (oof_cnt + smoothing)

    where ``prior`` is itself out-of-fold (global mean excluding the
    row's fold) — keys entirely contained in one fold degrade to the
    prior rather than leaking (oof_cnt = 0 is well-defined for
    smoothing > 0).

    100 TB posture: one (key, fold) aggregation with map-side combine
    (≤ keys × n_folds rows), a per-key rollup of that small frame, one
    fold-level rollup, then broadcast joins back — the corpus itself
    is never shuffled.
    """
    if n_folds < 2:
        raise ValueError("target_encode_kfold: n_folds must be >= 2")
    if smoothing <= 0:
        raise ValueError("target_encode_kfold: smoothing must be > 0")
    out_col = out_col or f"te_{key_col}"
    fold = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))), 1, 12),
            16,
            10,
        ).cast("long"),
        F.lit(n_folds),
    ).cast("int")
    with_fold = df.withColumn(fold_col, fold)
    kf = with_fold.groupBy(key_col, fold_col).agg(
        F.sum(F.col(label_col).cast("double")).alias("__s__"),
        F.count(F.lit(1)).alias("__c__"),
    )
    # per-key totals over the small (key, fold) frame, then OOF by
    # subtraction; same for the global prior at fold level.
    key_tot = kf.groupBy(key_col).agg(
        F.sum("__s__").alias("__ks__"), F.sum("__c__").alias("__kc__"),
    )
    fold_tot = kf.groupBy(fold_col).agg(
        F.sum("__s__").alias("__fs__"), F.sum("__c__").alias("__fc__"),
    )
    grand = kf.agg(F.sum("__s__").alias("__gs__"), F.sum("__c__").alias("__gc__"))
    oof = (
        kf.join(key_tot, key_col)
        .join(fold_tot, fold_col)
        .crossJoin(grand)
        .select(
            key_col,
            fold_col,
            (F.col("__ks__") - F.col("__s__")).alias("__oof_s__"),
            (F.col("__kc__") - F.col("__c__")).alias("__oof_c__"),
            F.when(
                F.col("__gc__") > F.col("__fc__"),
                (F.col("__gs__") - F.col("__fs__")) / (F.col("__gc__") - F.col("__fc__")),
            ).alias("__prior__"),
        )
    )
    enc = (F.col("__oof_s__") + F.col("__prior__") * F.lit(smoothing)) / (
        F.col("__oof_c__") + F.lit(smoothing)
    )
    enc = F.round(enc, round_to) if round_to is not None else enc
    # NOT forced broadcast: the (key, fold) encoding frame is
    # key-cardinality × n_folds rows — unbounded for exactly the
    # high-cardinality keys this encoder targets. A plain equi-join
    # lets AQE broadcast when the frame is actually small and shuffle
    # when it is not.
    return (
        with_fold.join(oof, [key_col, fold_col], "left")
        .withColumn(out_col, enc)
        .drop("__oof_s__", "__oof_c__", "__prior__")
    )


def train_logreg_hashed(
    df: DataFrame,
    label_col: str,
    text_col: str,
    id_col: str,
    n_features: int = 256,
    iterations: int = 5,
    lr: float = 0.5,
    l2: float = 0.0,
    weight_round: int = 9,
    feature_mode: str = "presence",
    cache_features: bool = True,
    buckets_col: Optional[str] = None,
) -> DataFrame:
    """Binary logistic regression over hashed token-count features,
    trained with full-batch gradient descent — the fasttext-style
    quality-classifier recipe (DCLM, Li et al. 2024) reduced to pure
    DataFrame aggregations: NO parameter server, NO MLlib, no Python
    in the hot path. Returns the model as a tiny DataFrame
    ``(feature, weight)`` with the bias at ``feature = -1``
    (``n_features + 1`` rows — broadcastable anywhere).

    Per iteration (weights start at 0, the model rides the DRIVER as
    an ``n_features + 1`` float vector — model-by-literal, the same
    bounded-state device as :func:`logreg_score_expr`):
    ``z_i = b + Σ_f round(x_if·w_f, 12)`` summed EXACTLY as
    ``decimal(25,12)`` (a per-row array fold over the doc's sparse
    features against the literal weight vector — no join),
    ``p_i = sigmoid(z_i)``, ``r_i = round(p_i − y_i, 12)``, gradient
    ``g_f = double(Σ_i decimal(round(x_if·r_i, 12)))/n + l2·w_f``
    (one map-side-combined groupBy(feature), at most ``n_features``
    rows collected — model-bounded, not data-bounded), then
    ``w ← round_half_up(w − lr·g, weight_round)`` on the driver.

    The quantize-then-decimal-sum steps are the training contract
    (the BT/DoReMi replay device): every cross-row reduction sums
    EXACT decimals of explicitly-quantized terms, so the result is
    independent of partitioning/accumulation order BY CONSTRUCTION —
    not merely to the final rounding — and a fixed-iteration ANSI-SQL
    unroll replays training bit-for-bit (same device as the PageRank
    oracle).

    100 TB posture: each iteration is ONE pass over the pinned
    per-doc sparse-feature frame — a row-local fold for ``z``/``r``
    plus one explode + groupBy(feature) reduction to the
    model-sized gradient — with zero joins, zero broadcasts and no
    per-iteration lineage growth (the model never lives in a plan,
    so there is nothing to checkpoint between steps).
    ``cache_features`` (default True) pins that frame so
    tokenize+hash runs ONCE, not once per
    iteration — the right trade whenever the sparse feature frame
    fits cluster storage (it is ≤ tokens-per-doc × 16B rows, far
    smaller than the corpus text). Set it False at corpus scale when
    even the sparse frame is too large to persist and the per-
    iteration re-scan is the cheaper side of the trade; results are
    identical either way (every reduction is exact). Labels must
    be 0/1.

    ``feature_mode`` sets the feature encoding (scoring must match):
    ``"presence"`` (default) — 1.0 per active bucket, the robust
    bag-of-words encoding (bounded ``|z| <= n_features·max|w|``,
    gradients at unit scale, converges in a handful of full-batch
    steps); ``"tf"`` — L1-normalized term frequencies (length-
    invariant but gradients shrink with document length — needs a
    much larger ``lr``); ``"count"`` — raw counts (long documents
    saturate the sigmoid; only for short, similar-length texts).
    """
    from rdsa_utils_spark.operators.text import hashed_token_features

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if lr <= 0:
        raise ValueError(f"lr must be > 0, got {lr}")
    from rdsa_utils_spark.operators.text import hash_bucket_expr, tokens

    entries_type = "array<struct<feature:int,value:double>>"
    empty_entries = F.from_json(F.lit("[]"), entries_type)
    if buckets_col is not None and feature_mode != "presence":
        raise ValueError(
            "buckets_col (precomputed presence buckets) requires "
            f"feature_mode='presence', got {feature_mode!r}",
        )
    if feature_mode == "presence":
        # Presence features are a PURE PROJECTION: the doc's distinct
        # hashed buckets, each with value 1.0 — identical to
        # hashed_token_features(signed=False) + presence encode, but
        # with no explode/groupBy/join in the prep (one narrow scan
        # instead of two shuffles). ``buckets_col`` skips even the
        # tokenize: pass a pinned presence_buckets_expr column when
        # the same corpus is tokenized for train AND score.
        if buckets_col is not None:
            fs = F.col(buckets_col)
        else:
            fs = F.array_sort(
                F.array_distinct(
                    F.transform(
                        tokens(F.col(text_col)),
                        lambda t: hash_bucket_expr(t, n_features),
                    ),
                ),
            )
        entries = F.transform(
            fs,
            lambda f: F.struct(
                f.alias("feature"), F.lit(1.0).alias("value"),
            ),
        )
        train = df.select(
            F.col(label_col).cast("double").alias("__y"),
            F.coalesce(entries, empty_entries).alias("__es"),
        )
    else:
        base = df.select(
            F.col(id_col).alias("__doc"),
            F.col(label_col).cast("double").alias("__y"),
            F.col(text_col).alias("__text"),
        )
        feats = _encode_features(
            hashed_token_features(
                base, "__doc", "__text", n_features=n_features, signed=False,
            ).select(F.col("__doc"), "feature", "value"),
            feature_mode,
        )
        # One shuffle, once: fold the sparse long form into a per-doc
        # entries array so every iteration is a row-local pass (the
        # old per-iteration groupBy(__doc) re-shuffled the feature
        # frame every step).
        train = (
            base.select("__doc", "__y")
            .join(
                feats.groupBy("__doc").agg(
                    F.array_sort(
                        F.collect_list(F.struct("feature", "value")),
                    ).alias("__es"),
                ),
                "__doc",
                "left",
            )
            .select(
                "__y",
                F.coalesce(F.col("__es"), empty_entries).alias("__es"),
            )
        )
    if cache_features:
        train = train.transform(pin)

    spark = df.sparkSession
    stats = train.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y").alias("np"),
    ).collect()[0]
    n = int(stats["n"])
    if n == 0:
        raise ValueError("train_logreg_hashed: empty training frame")
    # Prior-logit bias init: starting b at logit(positive rate) puts
    # the model at the all-bias optimum immediately, so every gradient
    # step is spent on DISCRIMINATIVE feature weights instead of
    # re-learning the base rate (full-batch GD wastes most of its
    # early steps there otherwise). The count is exact and the logit
    # is rounded like every other weight, so replay stays bit-exact.
    n_pos = int(stats["np"] or 0)
    if 0 < n_pos < n:
        b0 = _round_half_up(math.log(n_pos / float(n - n_pos)), weight_round)
    else:
        b0 = 0.0  # degenerate single-class frame: sigmoid(0) start

    # decimal(25,12): terms are quantized to 12 dp, and 25-12 integer
    # digits absorb any realistic fold/sum magnitude WITHOUT hitting
    # Spark's 38-precision cap — a capped decimal add would HALF_UP-
    # round the running sum every merge (see the price-index fix),
    # which is exactly the accumulation-order dependence this
    # contract exists to eliminate.
    from decimal import Decimal

    DEC = "decimal(25,12)"
    zero_dec = F.lit(Decimal(0)).cast(DEC)
    wvec = [0.0] * n_features  # driver-resident model: n_features+1 floats
    b = b0
    inv_n = 1.0 / float(n)
    # Bias-gradient sentinel: appending (feature=-1, value=1.0) to each
    # row's entries AFTER the dot is computed folds the bias gradient
    # into the SAME explode+groupBy as the feature gradients — one scan
    # and one residual fold per iteration instead of two (a union of
    # two aggregates over `resid` re-executed the whole dot-product
    # fold per branch; at bench scale that fold IS the iteration cost).
    # Bit-identical: round(1.0 * double(r), 12) recovers a 12-dp
    # residual exactly (|r| < 1, so ≤ 13 significant digits — well
    # inside the double round-trip), i.e. the sentinel contribution
    # sums to the same decimal as the old global sum(__r).
    bias_sentinel = F.array(
        F.struct(
            F.lit(-1).cast("int").alias("feature"),
            F.lit(1.0).alias("value"),
        ),
    )
    # Presence fast path for the per-row dot: x_if = 1.0 and the
    # weights carry <= 12 dp, so every quantized term round(x·w, 12)
    # IS the weight itself and the exact-decimal fold equals a sum of
    # the weights scaled to integers at 1e12 — plain LONG arithmetic
    # (codegen; higher-order decimal folds are CodegenFallback and
    # dominated the iteration at bench scale). Same VALUE by
    # construction: the scaled weights are exact integers (computed
    # with Decimal on the driver), their long sum is the decimal sum
    # scaled, the per-iteration guard below keeps the worst-case sum
    # <= 2^53 so the long->double cast is exact, and long/1e12 in IEEE
    # is the correctly-rounded exact ratio — the
    # same double the decimal(25,12)→double cast produces. Pinned
    # against the pure-Python replay in tests/test_round9_logreg_replay
    # and the generic decimal fold in tests/test_classify.py.
    presence_mode = feature_mode == "presence"
    from decimal import Decimal as _D

    for _ in range(iterations):
        # one SQL-text literal, not n_features py4j lit() calls — the
        # Column-by-Column array constructor measurably dominated the
        # per-iteration cost at bench scale.
        # The long fold is exact ONLY while the worst-case scaled sum
        # stays <= 2^53 (the long->double cast must be exact; a doc can
        # hit every feature once, so the bound is sum(|scaled_w|)) —
        # re-checked EVERY iteration since weights grow with lr; an
        # iteration past the bound runs the decimal fold instead,
        # same value by contract. Never triggers for a sane presence
        # model (|w| <= iterations·lr), but lr=5, 10 iterations, 200
        # active buckets genuinely can cross it.
        w_scaled = (
            [int(_D(repr(float(w))) * 10**12) for w in wvec]
            if presence_mode and weight_round <= 12
            else None
        )
        iter_fast = (
            w_scaled is not None
            and sum(abs(s) for s in w_scaled) <= 2**53
        )
        if iter_fast:
            w_lit = F.expr(
                "array(" + ",".join(f"{s}L" for s in w_scaled) + ")",
            )
            dot_double = (
                F.aggregate(
                    "__es",
                    F.lit(0).cast("long"),
                    lambda acc, e: acc + F.element_at(
                        w_lit, e["feature"] + 1,
                    ),
                ).cast("double")
                / F.lit(1.0e12)
            )
        else:
            w_lit = F.expr(
                "array(" + ",".join(repr(float(w)) for w in wvec) + ")",
            )
            dot_double = F.aggregate(
                F.transform(
                    "__es",
                    lambda e: F.round(
                        e["value"] * F.element_at(w_lit, e["feature"] + 1),
                        12,
                    ).cast(DEC),
                ),
                zero_dec,
                lambda acc, c: (acc + c).cast(DEC),
            ).cast("double")
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.lit(b) + dot_double))
        )
        resid = train.select(
            F.concat("__es", bias_sentinel).alias("__es"),
            F.round(p - F.col("__y"), 12).cast(DEC).alias("__r"),
        )
        # model-sized reduction: ≤ n_features+1 rows come back to the
        # driver (bounded by the MODEL, not the data — same contract
        # as logreg_score_expr's literal inlining); feature -1 is the
        # bias gradient via the sentinel entry
        # presence contribution round(1.0·double(r), 12) IS r (a 12-dp
        # decimal round-trips double exactly at |r| < 1) — value-based,
        # so it holds regardless of which dot fold ran this iteration
        contrib = (
            F.col("__r")
            if presence_mode
            else F.round(
                F.col("__e.value") * F.col("__r").cast("double"), 12,
            ).cast(DEC)
        )
        g_rows = (
            resid.select(F.col("__r"), F.explode("__es").alias("__e"))
            .select(
                F.col("__e.feature").alias("feature"),
                contrib.alias("__c"),
            )
            .groupBy("feature")
            .agg(F.sum("__c").alias("__g"))
            .collect()
        )
        gmap = {r["feature"]: r["__g"] for r in g_rows}
        for f in range(n_features):
            gf = float(gmap.get(f) or 0) * inv_n
            wvec[f] = _round_half_up(
                wvec[f] - lr * (gf + l2 * wvec[f]), weight_round,
            )
        gb = float(gmap.get(-1) or 0) * inv_n
        b = _round_half_up(b - lr * (gb + l2 * b), weight_round)
    return spark.createDataFrame(
        [(-1, float(b))] + [(f, float(wvec[f])) for f in range(n_features)],
        "feature int, weight double",
    )


def _encode_features(feats: DataFrame, feature_mode: str) -> DataFrame:
    """Re-encode sparse (doc, feature, value) counts per
    ``feature_mode``: presence → 1.0, tf → value/Σ_doc value (one
    map-side-combinable groupBy(doc) joined back; the division is a
    single IEEE op on identical operands, engine-exact), count → as
    is."""
    if feature_mode == "count":
        return feats
    if feature_mode == "presence":
        return feats.select("__doc", "feature", F.lit(1.0).alias("value"))
    if feature_mode == "tf":
        totals = feats.groupBy("__doc").agg(F.sum("value").alias("__tot"))
        return (
            feats.join(totals, "__doc")
            .select(
                "__doc", "feature",
                (F.col("value") / F.col("__tot")).alias("value"),
            )
        )
    raise ValueError(f"unknown feature_mode {feature_mode!r}")


def logreg_score_hashed(
    df: DataFrame,
    weights: DataFrame,
    text_col: str,
    id_col: str,
    n_features: int = 256,
    out_col: str = "prob",
    prob_round: int = 6,
    feature_mode: str = "presence",
) -> DataFrame:
    """Score documents with a :func:`train_logreg_hashed` model:
    hashed features → broadcast model join → per-doc dot product +
    bias → sigmoid, rounded to ``prob_round`` dp at the edge. One
    explode + one broadcast join + one groupBy(doc). The dot product
    follows the training contract — 12-dp-quantized terms summed as
    exact ``decimal(25,12)`` — so scores are accumulation-order-
    independent and ANSI-SQL-replayable like training itself."""
    from rdsa_utils_spark.operators.text import hashed_token_features

    feats = hashed_token_features(
        df.select(F.col(id_col).alias("__doc"), F.col(text_col).alias("__text")),
        "__doc", "__text", n_features=n_features, signed=False,
    )
    feats = _encode_features(feats, feature_mode)
    wf = weights.filter(F.col("feature") >= 0)
    bias = weights.filter(F.col("feature") == -1).select(
        F.col("weight").alias("__b"),
    )
    dots = (
        # broadcast: trained weights are driver-built rows, an RDD scan with no size statistic
        feats.join(F.broadcast(wf), "feature")
        .groupBy("__doc")
        .agg(
            F.sum(
                F.round(F.col("value") * F.col("weight"), 12)
                .cast("decimal(25,12)"),
            )
            .cast("double")
            .alias("__dot"),
        )
    )
    return (
        df.join(dots, df[id_col] == dots["__doc"], "left")
        .drop("__doc")
        # broadcast: the bias row is a filter over an RDD scan with no size statistic
        .crossJoin(F.broadcast(bias))
        .withColumn(
            out_col,
            F.round(
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.coalesce(F.col("__dot"), F.lit(0.0)) + F.col("__b")))),
                prob_round,
            ),
        )
        .drop("__dot", "__b")
    )


def presence_buckets_expr(text, n_features: int = 256) -> Column:
    """The per-doc presence feature set as a pure projection: the
    sorted distinct hashed buckets of the document's tokens
    (``array<int>``) — the shared input of the logreg presence fast
    path. Compute it ONCE into a pinned column and pass it to both
    :func:`train_logreg_hashed` (``buckets_col``) and
    :func:`logreg_score_expr` (``buckets``) so the corpus is
    tokenized a single time across train + score.

    NULL text yields an EMPTY bucket array, not NULL: a NULL would
    propagate through the ``aggregate`` fold in
    :func:`logreg_score_expr` and score ``prob = NULL``, while the
    batch path (:func:`logreg_score_hashed`, left join + COALESCE)
    scores a token-free document ``sigmoid(bias)`` — the two paths
    must agree on every input."""
    from rdsa_utils_spark.operators.text import hash_bucket_expr, tokens

    c = F.col(text) if isinstance(text, str) else text
    return F.coalesce(
        F.array_sort(
            F.array_distinct(
                F.transform(
                    tokens(c), lambda t: hash_bucket_expr(t, n_features),
                ),
            ),
        ),
        F.array().cast("array<int>"),
    )


def logreg_score_expr(
    weights_rows,
    text_col: Column | str,
    n_features: int = 256,
    prob_round: int = 6,
    buckets: Column | None = None,
) -> Column:
    """STATELESS logistic-regression scoring expression for a
    :func:`train_logreg_hashed` model (presence features): the
    (n_features+1)-row model is inlined as a literal map, the
    document's distinct hashed buckets come from higher-order array
    functions, and the probability is one ``aggregate`` fold — a pure
    per-row projection with NO join and NO aggregation, so it runs
    in Structured Streaming append mode (the per-doc groupBy in
    :func:`logreg_score_hashed` is a stateful op under streaming) and
    costs nothing at any batch scale.

    ``weights_rows``: the collected model — an iterable of
    (feature, weight) rows/tuples, or a mapping. Inlining is the
    right call here BECAUSE the model is bounded at n_features+1
    entries — this is model broadcast by literal, not a driver-side
    data collect.

    ``buckets``: optional precomputed :func:`presence_buckets_expr`
    column — pass it (with ``text_col`` ignored) when the corpus was
    already tokenized for training, so the scan happens once.

    The dot contract is 12-dp-quantized terms summed exactly (the
    training contract), computed on the fast path as a SCALED-LONG
    fold: each weight's ``round(w, 12)`` is pre-scaled to an exact
    integer at 10^12 on the driver (``_dq`` — the same shortest-repr
    HALF_UP as ``F.round``), the per-row fold is plain long addition
    over a dense array literal (whole-stage codegen; the decimal
    higher-order fold is CodegenFallback), and ``long/1e12`` is the
    correctly-rounded exact ratio — the same double the
    decimal(25,12)→double cast yields. The fast path runs only while
    the WORST-CASE scaled sum (a doc hitting every feature once —
    ``sum(|round(w,12)|·10^12)``) stays <= 2^53, the exactness bound
    of the long→double cast; a heavier weight set (never a trained
    presence model; |w| <= iterations·lr in training) falls back to
    the decimal fold, same value by contract.

    ``buckets`` values must lie in ``[0, n_features)`` — the
    :func:`presence_buckets_expr` contract. An out-of-range bucket now
    fails loudly (ANSI array index) instead of silently scoring 0.0
    the way the old map lookup did; likewise a model FEATURE index
    >= ``n_features`` raises ValueError at construction on BOTH paths
    — a mismatched ``n_features`` between bucketing and scoring was
    always a silent feature-space desync, and loud is the better
    failure.
    """
    from rdsa_utils_spark.operators.preference import _dq

    if hasattr(weights_rows, "items"):
        wmap = {int(k): float(v) for k, v in weights_rows.items()}
    else:
        wmap = {int(r[0]): float(r[1]) for r in weights_rows}
    bias = wmap.get(-1, 0.0)
    active = {
        f_: w_ for f_, w_ in wmap.items() if f_ >= 0 and w_ != 0.0
    }
    if active and max(active) >= n_features:
        raise ValueError(
            f"logreg_score_expr: model has feature {max(active)} but "
            f"n_features={n_features} — the model was trained with a "
            "different feature-space size; scoring it here would "
            "silently desync the hash buckets",
        )
    if buckets is None:
        buckets = presence_buckets_expr(text_col, n_features)
    w_scaled_map = {f_: int(_dq(w_, 12).scaleb(12)) for f_, w_ in active.items()}
    if active and sum(abs(s) for s in w_scaled_map.values()) <= 2**53:
        # dense scaled-long weight vector: bucket b -> round(w_b,12)·1e12
        w_scaled = [0] * n_features
        for f_, s_ in w_scaled_map.items():
            w_scaled[f_] = s_
        w_lit = F.expr("array(" + ",".join(f"{s}L" for s in w_scaled) + ")")
        dot = (
            F.aggregate(
                buckets,
                F.lit(0).cast("long"),
                lambda acc, b: acc + F.element_at(w_lit, b + 1),
            ).cast("double")
            / F.lit(1.0e12)
        )
    elif active:
        from decimal import Decimal

        entries = []
        for f_, w_ in sorted(active.items()):
            entries.extend([F.lit(f_), F.lit(w_)])
        wlit = F.create_map(*entries)
        dot = F.aggregate(
            buckets,
            F.lit(Decimal(0)).cast("decimal(25,12)"),
            lambda acc, b: (
                acc
                + F.round(F.coalesce(wlit[b], F.lit(0.0)), 12)
                .cast("decimal(25,12)")
            ).cast("decimal(25,12)"),
        ).cast("double")
    else:
        dot = F.lit(0.0)
    return F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-(dot + F.lit(bias)))), prob_round,
    )


def platt_scale_train(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    iterations: int = 8,
    lr: float = 2.0,
    param_round: int = 9,
) -> tuple[float, float]:
    """Platt scaling (Platt 1999): fit ``p = sigmoid(a*s + b)`` over a
    raw scorer output ``s`` against binary labels by full-batch
    gradient descent, returning the two calibration scalars ``(a, b)``.
    The parametric companion to :func:`calibration_bins` — bins SHOW
    the miscalibration, Platt REPAIRS it, mapping an uncalibrated
    quality-classifier margin onto an honest probability before it is
    used as a keep-threshold or a sampling weight.

    Training contract mirrors :func:`train_logreg_hashed`: bias starts
    at the prior logit ``ln(n_pos/n_neg)``, ``a`` at 0 (the all-bias
    optimum, so every step is spent on the slope), and both parameters
    are rounded to ``param_round`` decimals after EVERY step, so a
    fixed-iteration ANSI-SQL unroll replays the training bit-for-bit
    (same device as the logreg/PageRank oracles).

    100 TB posture: per iteration ONE map-side-combined aggregation
    over the (score, label) projection — two partial sums per map
    task; the only driver state is the two scalars themselves (the
    bounded-driver-state device used by IVF's k-row centroid collect).
    The projection is pinned so the input
    lineage runs once, not once per iteration. Labels must be 0/1;
    NULL scores/labels are excluded.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if lr <= 0:
        raise ValueError(f"lr must be > 0, got {lr}")
    base = (
        df.select(
            F.col(score_col).cast("double").alias("__s"),
            F.col(label_col).cast("double").alias("__y"),
        )
        .filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .transform(pin)
    )
    first = base.agg(
        F.count(F.lit(1)).alias("n"), F.sum("__y").alias("np"),
    ).first()
    n, n_pos = first["n"], first["np"]
    if n == 0:
        raise ValueError("platt_scale_train: empty training frame")
    n_pos = int(n_pos)
    a = 0.0
    b = (
        _round_half_up(math.log(n_pos / float(n - n_pos)), param_round)
        if 0 < n_pos < n
        else 0.0
    )
    for _ in range(iterations):
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(F.lit(a) * F.col("__s") + F.lit(b)))
        )
        g = base.agg(
            F.sum((p - F.col("__y")) * F.col("__s")).alias("ga"),
            F.sum(p - F.col("__y")).alias("gb"),
        ).first()
        a = _round_half_up(a - lr * (g["ga"] / n), param_round)
        b = _round_half_up(b - lr * (g["gb"] / n), param_round)
    return a, b


def platt_score_expr(
    score: Column | str, a: float, b: float, prob_round: int = 6,
) -> Column:
    """Calibrated probability ``round(sigmoid(a*s + b), prob_round)``
    for parameters from :func:`platt_scale_train` — a pure column
    expression (whole-stage codegen, no joins, no Python), usable in
    batch and streaming plans alike."""
    s = F.col(score) if isinstance(score, str) else score
    return F.round(
        F.lit(1.0)
        / (F.lit(1.0) + F.exp(-(F.lit(a) * s.cast("double") + F.lit(b)))),
        prob_round,
    )


def woe_iv(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    *,
    laplace: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Weight of evidence and information-value contribution per
    category of a feature against a binary label — the classic
    feature-screening table (credit-scoring lineage) for deciding
    which metadata columns carry signal for a quality/keep classifier
    before training one. Per category ``c``:

    ``woe_c  = ln(dist_pos_c / dist_neg_c)``
    ``iv_c   = (dist_pos_c - dist_neg_c) * woe_c``   (IV = Σ iv_c)

    with Laplace-smoothed shares ``dist_pos_c = (pos_c + laplace) /
    (pos_total + laplace*K)`` over ``K`` observed categories, so
    zero-count cells stay finite and the table is exactly replayable.

    Returns ``(feature_col, n_pos, n_neg, woe, iv_term)`` ordered by
    category. Labels must be 0/1; NULL labels are excluded (NULL
    categories form their own row — missingness is usually signal).

    100 TB posture: one map-side-combined groupBy over the corpus; the
    totals are a 1-row attach to the (small) category table, pinned
    so the corpus scan behind both consumers
    runs once.
    """
    if laplace < 0:
        raise ValueError(f"laplace must be >= 0, got {laplace}")
    y = F.col("__y")
    grouped = (
        df.select(
            F.col(feature_col),
            F.col(label_col).cast("double").alias("__y"),
        )
        .filter(y.isNotNull())
        .groupBy(feature_col)
        .agg(
            F.sum(y).cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum(y)).cast("long").alias("n_neg"),
        )
        .transform(pin)
    )
    totals = grouped.agg(
        F.sum("n_pos").alias("__tp"),
        F.sum("n_neg").alias("__tn"),
        F.count(F.lit(1)).alias("__k"),
    )
    lap = F.lit(float(laplace))
    dp = (F.col("n_pos") + lap) / (F.col("__tp") + lap * F.col("__k"))
    dn = (F.col("n_neg") + lap) / (F.col("__tn") + lap * F.col("__k"))
    woe = F.log(dp / dn)
    return (
        grouped.crossJoin(totals)
        .select(
            feature_col,
            "n_pos",
            "n_neg",
            (F.round(woe, round_to) + F.lit(0.0)).alias("woe"),
            (F.round((dp - dn) * woe, round_to) + F.lit(0.0)).alias("iv_term"),
        )
        .orderBy(feature_col)
    )


def isotonic_calibrate(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    score_round: int = 4,
    round_to: int = 6,
    max_knots: int = 10_000,
) -> DataFrame:
    """Isotonic (non-parametric) probability calibration: the
    least-squares NON-DECREASING fit of a binary label against a
    score — the distribution-free companion to
    :func:`platt_scale_train` (Platt assumes a sigmoid shape; isotonic
    assumes only monotonicity, the property a sane scorer must have).
    Returns the calibration TABLE ``(score, n, n_pos, p_cal)`` over
    the quantized distinct scores, in score order, ``p_cal``
    non-decreasing in ``score``; apply it to new data with
    :func:`isotonic_apply`.

    The fit is the sequential pool-adjacent-violators walk over the
    distinct-score table, run on the driver. Each block's value is
    ``float(n_pos) / float(n)`` of its exact integer sums: the block
    mean rounded once. PAV's minimax characterization —
    ``iso(k) = max_{i<=k} min_{j>=k} avg(y[i..j])`` (Robertson, Wright
    & Dykstra 1988, *Order Restricted Statistical Inference*, thm
    1.4.4) — names the same rational, and rounding is monotone, so it
    commutes with the min and max: a DuckDB oracle that replays the
    minimax over double ratios of integer prefix sums matches
    bit-for-bit. The final ``round(p, round_to) + 0.0`` runs in Spark,
    so Spark's HALF_UP rounding applies.

    100 TB posture: the corpus is touched by exactly ONE map-side-
    combined groupBy on the quantized score; its distinct-score table,
    whose size k is bounded by the quantization grid (``score_round=4``
    on a [0,1] score means at most 10,001 rows; 11 rows for typical
    discrete scores), comes to the driver in ONE ordered collect
    capped at ``max_knots + 1`` rows. ``max_knots`` bounds that
    collect: more distinct scores raise like :func:`isotonic_apply`'s
    ``max_grid`` rather than pull a wide-range score onto the driver —
    lower ``score_round`` or rescale the score into a bounded range.
    The fit is O(k), comparing block means by exact integer
    cross-multiplication; there is no pair grid, window or join. The
    table comes back as a local relation (an inline ``VALUES`` table,
    built the same way whether Arrow is on or off), so reading or
    applying it launches no Spark job.
    Labels must be 0/1; NULL scores/labels are excluded.
    """
    if score_round < 0:
        raise ValueError(f"score_round must be >= 0, got {score_round}")
    if max_knots < 1:
        raise ValueError(f"max_knots must be >= 1, got {max_knots}")
    y = F.col(label_col).cast("double")
    rows = (
        df.select(
            F.round(F.col(score_col).cast("double"), score_round).alias("__s"),
            y.alias("__y"),
        )
        .filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").cast("long").alias("n_pos"),
        )
        .orderBy("__s")
        .limit(max_knots + 1)
        .collect()
    )
    if len(rows) > max_knots:
        raise ValueError(
            f"isotonic_calibrate: more than max_knots={max_knots} distinct "
            f"quantized scores; lower score_round or rescale the score "
            f"into a bounded range",
        )
    # Pool adjacent violators: blocks of [n, n_pos, knots], merged while
    # the left block's mean exceeds the right one's (n_pos/n compared by
    # cross-multiplying the integer sums, so no rounding decides a merge).
    blocks: list[list[int]] = []
    for r in rows:
        blocks.append([r["n"], r["n_pos"], 1])
        while len(blocks) > 1 and (
            blocks[-2][1] * blocks[-1][0] > blocks[-1][1] * blocks[-2][0]
        ):
            n, n_pos, knots = blocks.pop()
            blocks[-1][0] += n
            blocks[-1][1] += n_pos
            blocks[-1][2] += knots
    fitted = [
        float(n_pos) / float(n)
        for n, n_pos, knots in blocks
        for _ in range(knots)
    ]
    values = ", ".join(
        f"({_sql_double(r['__s'])}, {r['n']}L, {r['n_pos']}L, {_sql_double(p)})"
        for r, p in zip(rows, fitted)
    )
    # VALUES needs one row: an empty fit keeps the schema with a typed
    # placeholder row that the filter drops.
    where = ""
    if not rows:
        values, where = "(CAST(NULL AS DOUBLE), 0L, 0L, 0.0D)", " WHERE false"
    return df.sparkSession.sql(
        f"SELECT score, n, n_pos, round(iso, {int(round_to)}) + 0.0D AS p_cal "
        f"FROM VALUES {values} AS t(score, n, n_pos, iso){where}",
    )


def _sql_double(x: float) -> str:
    """A SQL literal that parses to exactly the double ``x``."""
    if math.isfinite(x):
        return f"{x!r}D"
    return f"CAST('{x}' AS DOUBLE)"


def isotonic_apply(
    df: DataFrame,
    calibration: DataFrame,
    score_col: str,
    *,
    score_round: int = 4,
    output_col: str = "p_cal",
    max_grid: int = 2_000_000,
) -> DataFrame:
    """Apply an :func:`isotonic_calibrate` table to new rows: each row
    gets the fitted probability of the LARGEST calibration knot <=
    its own quantized score (the step function a monotone fit
    defines). Scores below the calibration range yield NULL (no
    training evidence below the smallest knot — the caller decides
    the clamp); scores above it take the last knot's value (the step
    extends right).

    The knots live on the uniform ``10^-score_round`` decimal grid by
    construction, so application is a PURE PROJECTION: the knot table
    (bounded by the grid — the k-row centroid-collect device) is
    densified into one forward-filled literal array and each row does
    a single O(1) ``element_at`` index lookup inside whole-stage
    codegen. No join, no window, no shuffle — an earlier draft used an
    unpartitioned asof sweep, which funnels the corpus through one
    task; this is the shape that survives 100 TB. ``max_grid`` guards
    against a pathological score range × ``score_round`` combination
    (lower ``score_round`` or rescale the score if it trips).
    """
    return df.withColumn(
        output_col,
        isotonic_step_expr(
            calibration, score_col, score_round=score_round,
            max_grid=max_grid,
        ),
    )


def isotonic_step_expr(
    calibration: DataFrame,
    score_col: str,
    *,
    score_round: int = 4,
    max_grid: int = 2_000_000,
) -> Column:
    """The step-function projection :func:`isotonic_apply` applies, as
    a reusable Column. Collects the knot table ONCE at call time and
    freezes it into the dense-grid literal — callers that apply one
    calibration to many frames (the streaming quality gate applying it
    to every micro-batch) build this once instead of re-collecting and
    re-executing the calibration plan per application, which would
    both cost a driver round-trip per batch and silently re-read a
    mutated calibration source mid-stream.

    The knots are sorted on the driver, not by a Spark sort: a table
    from :func:`isotonic_calibrate` is a local relation, which this
    collect reads without launching a job (a Sort over it would still
    plan an exchange), and a table from any other source is
    knot-sized anyway.
    """
    rows = calibration.select("score", "p_cal").collect()
    if not rows:
        raise ValueError("isotonic_step_expr: empty calibration table")
    knots = sorted(
        ((float(r["score"]), float(r["p_cal"])) for r in rows),
        key=lambda kv: kv[0],
    )
    factor = 10 ** score_round
    lo = knots[0][0]
    size = int(round((knots[-1][0] - lo) * factor)) + 1
    if size > max_grid:
        raise ValueError(
            f"isotonic_step_expr: dense grid of {size} cells exceeds "
            f"max_grid={max_grid}; lower score_round or rescale the score",
        )
    positions = [int(round((s - lo) * factor)) for s, _ in knots]
    dense: list[float] = []
    k = 0
    cur = knots[0][1]
    for g in range(size):
        if k < len(knots) and positions[k] == g:
            cur = knots[k][1]
            k += 1
        dense.append(cur)
    sq = F.round(F.col(score_col).cast("double"), score_round)
    idx = F.round((sq - F.lit(lo)) * F.lit(float(factor)), 0).cast("int")
    return F.when(
        sq.isNotNull() & (idx >= 0),
        F.element_at(
            F.lit(dense), F.least(idx, F.lit(size - 1)) + F.lit(1),
        ),
    )


def expected_calibration_error(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Expected calibration error (Naeini et al. 2015): the
    bin-count-weighted mean |mean confidence − observed accuracy| over
    the :func:`calibration_bins` grid — the single-number companion to
    the reliability diagram, and the before/after yardstick for
    :func:`platt_scale_train` / :func:`isotonic_calibrate`.

    Returns one row (``n``, ``n_bins_used``, ``ece``). Per-bin means
    quantize to 12 dp before the |gap| (engine-exact division points),
    gaps weight by exact bin counts and sum in decimal, one final
    division — bit-replayable in SQL. NULL scores/labels excluded;
    scores clamp into [0,1] edge bins like ``calibration_bins``.
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = F.col(score_col).cast("double")
    bins = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(
            _calibration_bin_index(s, n_bins).alias("__b"),
            s.alias("__s"),
            F.col(label_col).cast("int").cast("double").alias("__y"),
        )
        .groupBy("__b")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.round(F.avg("__s"), 12).alias("__ms"),
            F.round(F.avg("__y"), 12).alias("__my"),
        )
    )
    gap = F.abs(F.col("__ms") - F.col("__my"))
    return bins.agg(
        F.sum("__n").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
        F.round(
            F.sum((gap * F.col("__n")).cast("decimal(38,12)")).cast("double")
            / F.sum("__n"),
            round_to,
        ).alias("ece"),
    )


def calibrated_gate(
    df: DataFrame,
    calibration: DataFrame,
    score_col: str,
    threshold: float,
    *,
    score_round: int = 4,
    p_col: str = "p_cal",
    flag_col: str = "passed",
) -> DataFrame:
    """Calibrated quality gate: :func:`isotonic_apply` the calibration
    table, then flag rows whose calibrated probability clears
    ``threshold`` — the composition a production curation pipeline
    runs (raw quality score → calibrated P(good) → admit/reject), with
    the threshold typically chosen by :func:`~rdsa_utils_spark.
    operators.curation.conformal_threshold` for a coverage guarantee.

    Rows whose score falls BELOW the calibration range get
    ``p_col = NULL`` and ``flag_col = False`` — no training evidence
    means no admission (refuse-don't-guess, stated rather than
    implicit). Inherits isotonic_apply's pure-projection plan: the
    gate adds zero joins, windows, or shuffles, which also makes it
    safe inside a Structured Streaming micro-batch (see
    ``streaming/quality.write_stream_quality_gate``).
    """
    out = isotonic_apply(
        df, calibration, score_col,
        score_round=score_round, output_col=p_col,
    )
    return out.withColumn(
        flag_col, calibrated_flag_expr(F.col(p_col), threshold),
    )


def calibrated_flag_expr(p: Column, threshold: float) -> Column:
    """THE admit policy of the calibrated gate — shared by
    :func:`calibrated_gate` and the streaming
    ``write_stream_quality_gate`` so batch and live ingestion cannot
    silently diverge on NULL handling or the >= boundary: admit iff
    the calibrated probability exists AND clears ``threshold`` (NULL —
    below calibration range, no training evidence — rejects).
    """
    if not (0.0 <= threshold <= 1.0):
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    return F.coalesce(p >= F.lit(float(threshold)), F.lit(False))
