"""Corpus-curation operators: importance resampling and rule filters.

No reference equivalent (extension surface, SURVEY.md §0/§7): the
data-selection layer of an LLM training pipeline, built on public
recipes —

- ``dsir_log_weights`` / ``dsir_select`` — Data Selection via
  Importance Resampling (Xie et al. 2023, arXiv:2302.03169): hashed
  n-gram bag features, per-bucket log-likelihood ratio between a
  target corpus and the raw corpus, Gumbel top-k resampling.
- ``gopher_rules`` — the Gopher paper's repetition-free quality rule
  set (Rae et al. 2021, arXiv:2112.11446 §A1.1): word-count bounds,
  mean-word-length bounds, symbol-to-word ratio, bullet/ellipsis line
  ratios, alphabetic-word fraction, stop-word presence.
- ``c4_line_filter`` — C4-style line-level cleaning (Raffel et al.
  2020, arXiv:1910.10683 §2.2): drop lines that are too short, lack
  terminal punctuation, or contain blocklisted fragments; then drop
  documents left with too few lines.

Everything is native Spark SQL expressions (JVM-side, codegen'd) with
md5-derived hashing so an ANSI-SQL engine replays results
bit-for-bit; per-document log-weight sums are accumulated in SCALED
INTEGER space (µ-nats) so they are exact and order-independent across
engines.

100 TB posture: DSIR is two token-explode → groupBy(bucket) passes
(output = n_buckets rows each, map-side combined), one broadcast of
the n_buckets-row ratio table, and one groupBy(doc) — no wide
corpus-vs-corpus join anywhere; selection is a TakeOrderedAndProject,
never a full sort. Rule filters are pure per-row projections.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.text import tokens
from rdsa_utils_spark.plans.tuning import pin

# Gumbel scoring uses the same 12-hex-digit md5 uniform as
# sampling.hash_uniform; re-derived here against (id, seed) so the
# whole score is one SQL-replayable expression.
_HEX_DIGITS = 12

# Short English stop list for the Gopher "contains ≥2 stop words"
# rule (paper uses: the, be, to, of, and, that, have, with).
_GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

_LOGW_SCALE = 1_000_000  # µ-nat fixed-point for order-independent sums


def _bucket(term: Column, n_buckets: int) -> Column:
    """md5-derived feature bucket: first 5 hex digits (20 bits, well
    above any sane n_buckets) parsed base-16, mod n_buckets."""
    h = F.conv(F.substring(F.md5(term), 1, 5), 16, 10).cast("long")
    return F.pmod(h, F.lit(n_buckets)).cast("int")


def _doc_terms(df: DataFrame, id_col: str, text_col: str, use_bigrams: bool) -> DataFrame:
    """Long form (id, term): whitespace unigrams plus (optionally)
    space-joined bigrams — the DSIR feature vocabulary. The token
    array is bound to a column BEFORE any slice/zip so Spark never
    re-evaluates the split per element (no-CSE-in-lambda trap)."""
    d = df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__toks"))
    n = F.size("__toks")
    if use_bigrams:
        bigrams = F.when(
            n >= 2,
            F.zip_with(
                F.slice("__toks", F.lit(1), n - 1),
                F.slice("__toks", F.lit(2), n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        terms = F.concat(F.col("__toks"), bigrams)
    else:
        terms = F.col("__toks")
    return d.select("__id", F.explode(terms).alias("__term"))


def dsir_bucket_ratios(
    raw_df: DataFrame,
    target_df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 512,
    smoothing: float = 1.0,
    use_bigrams: bool = True,
) -> DataFrame:
    """Per-bucket DSIR log-likelihood ratio table: ``(bucket,
    ratio_unats)`` where ratio = ln p_target(bucket) − ln p_raw(bucket)
    under add-``smoothing`` estimates, scaled to integer µ-nats
    (round(ratio·1e6)) so downstream per-document sums are EXACT and
    engine/order-independent.

    Two corpus scans (one per side), each collapsing to ``n_buckets``
    rows via map-side-combinable groupBy; totals are 1-row aggregates
    broadcast-attached (the tfidf/pagerank stat-attach shape). Output
    is always exactly ``n_buckets`` rows (unseen buckets get the
    smoothed floor), tiny enough to broadcast anywhere.
    """
    if n_buckets < 2 or n_buckets > 1048576:
        raise ValueError(f"n_buckets must be in [2, 16^5], got {n_buckets}")
    if smoothing <= 0:
        raise ValueError("smoothing must be > 0 (unsmoothed ratios are undefined on unseen buckets)")

    def _counts(df: DataFrame, cnt_name: str) -> DataFrame:
        t = _doc_terms(df.select(F.lit(0).alias("__rid"), F.col(text_col)), "__rid", text_col, use_bigrams)
        return (
            t.select(_bucket(F.col("__term"), n_buckets).alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(cnt_name))
        )

    spark = raw_df.sparkSession
    grid = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    tc = _counts(target_df, "__tc")
    rc = _counts(raw_df, "__rc")
    joined = (
        grid.join(tc, "bucket", "left")
        .join(rc, "bucket", "left")
        .na.fill({"__tc": 0, "__rc": 0})
    )
    tot = joined.agg(
        F.sum("__tc").alias("__ttot"), F.sum("__rc").alias("__rtot"),
    )
    a = float(smoothing)
    ab = a * n_buckets
    ratio = (
        F.log((F.col("__tc").cast("double") + F.lit(a)) / (F.col("__ttot").cast("double") + F.lit(ab)))
        - F.log((F.col("__rc").cast("double") + F.lit(a)) / (F.col("__rtot").cast("double") + F.lit(ab)))
    )
    return (
        joined.crossJoin(tot)
        .select(
            "bucket",
            F.round(ratio * F.lit(_LOGW_SCALE)).cast("long").alias("ratio_unats"),
        )
    )


def dsir_log_weights(
    raw_df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = 512,
    smoothing: float = 1.0,
    use_bigrams: bool = True,
    out_col: str = "dsir_logw",
) -> DataFrame:
    """Attach the DSIR importance log-weight to every raw document:
    ``logw(doc) = Σ_terms [ln p_target(bucket(term)) − ln
    p_raw(bucket(term))]`` — high where the document's hashed n-gram
    profile looks like the target corpus. The sum runs in integer
    µ-nats (exact, order-independent) and is exposed as a double in
    nats, rounded to 6 dp. Documents with no tokens get 0.0.

    Plan: ratio table (``n_buckets`` rows) broadcast onto the raw
    side's term explode, then one groupBy(doc) with map-side combine —
    the corpus is shuffled once, keyed by document id.
    """
    ratios = dsir_bucket_ratios(
        raw_df, target_df, text_col=text_col, n_buckets=n_buckets,
        smoothing=smoothing, use_bigrams=use_bigrams,
    )
    terms = _doc_terms(raw_df, id_col, text_col, use_bigrams)
    per_doc = (
        terms.select("__id", _bucket(F.col("__term"), n_buckets).alias("bucket"))
        # broadcast: Catalyst estimates the bucket-ratio joins as the product of their inputs
        .join(F.broadcast(ratios), "bucket")
        .groupBy("__id")
        .agg(F.sum("ratio_unats").alias("__unats"))
    )
    return (
        raw_df.join(per_doc, raw_df[id_col] == per_doc["__id"], "left")
        .drop("__id")
        .withColumn(
            out_col,
            F.round(
                F.coalesce(F.col("__unats"), F.lit(0)).cast("double") / F.lit(float(_LOGW_SCALE)),
                6,
            ),
        )
        .drop("__unats")
    )


def dsir_select(
    raw_df: DataFrame,
    target_df: DataFrame,
    k: int,
    id_col: str,
    text_col: str = "text",
    n_buckets: int = 512,
    smoothing: float = 1.0,
    use_bigrams: bool = True,
    seed: str = "dsir",
    temperature: float = 1.0,
) -> DataFrame:
    """DSIR selection: sample ``k`` raw documents without replacement
    with probability ∝ exp(logw/temperature), via the Gumbel top-k
    trick — score = logw/temperature + Gumbel(id), take the k largest.
    The Gumbel variate is md5-derived from (id, seed): deterministic,
    partition-independent, SQL-replayable. Scores are rounded to 6 dp
    with ``id_col`` as the unique tiebreak, so the selected set is
    bit-stable across engines.

    Selection is ``orderBy(...).limit(k)`` — Spark plans a
    TakeOrderedAndProject (per-partition top-k then a k-row merge on
    the driver), never a full sort of the corpus.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if temperature <= 0:
        raise ValueError("temperature must be > 0")
    scored = dsir_log_weights(
        raw_df, target_df, id_col, text_col=text_col, n_buckets=n_buckets,
        smoothing=smoothing, use_bigrams=use_bigrams,
    )
    digits = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + seed))), 1, _HEX_DIGITS,
    )
    # (h + 0.5) / 16^12 keeps u strictly inside (0, 1) so both log()s
    # are finite.
    u = (F.conv(digits, 16, 10).cast("double") + F.lit(0.5)) / F.lit(float(16 ** _HEX_DIGITS))
    gumbel = -F.log(-F.log(u))
    score = F.round(F.col("dsir_logw") / F.lit(float(temperature)) + gumbel, 6)
    return (
        scored.withColumn("dsir_score", score)
        .orderBy(F.col("dsir_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stop_words: int = 2,
    stopwords: Optional[Sequence[str]] = None,
    out_col: str = "gopher_pass",
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021 §A1.1) as one projection:
    boolean column per rule plus the conjunction in ``out_col``.

    Rules — word count within [min, max]; mean word length within
    [min, max]; '#' per word ≤ max_symbol_ratio AND '...' per word ≤
    max_symbol_ratio (each symbol tested separately, as in the cited
    rule — not their sum); ≤ 90%
    of lines bullet-started; ≤ 30% of lines ellipsis-ended; ≥ 80% of
    words contain an alphabetic character; ≥ 2 stop words present.
    All thresholds parameterized (the paper's defaults). Pure per-row
    integer/boolean arithmetic over the token and line arrays — no
    aggregation, no shuffle, embarrassingly parallel at any scale.
    """
    stops = tuple(stopwords) if stopwords is not None else _GOPHER_STOPWORDS
    d = df.withColumn("__toks", tokens(F.col(text_col))).withColumn(
        "__lines", F.split(F.col(text_col), "\n"),
    )
    n_words = F.size("__toks")
    n_lines = F.size("__lines")
    total_chars = F.aggregate(
        "__toks", F.lit(0).cast("long"), lambda acc, t: acc + F.length(t),
    )
    mean_len = F.when(
        n_words > 0, total_chars.cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    n_hash = F.size(F.split(F.col(text_col), "#", -1)) - 1
    n_ellipsis = F.size(F.split(F.col(text_col), r"\.\.\.", -1)) - 1
    # Per the cited rule, EACH symbol's ratio is tested separately —
    # a combined (hash+ellipsis)/words test would over-reject
    # documents that pass both individual thresholds.
    hash_ratio = F.when(
        n_words > 0, n_hash.cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    ellipsis_sym_ratio = F.when(
        n_words > 0, n_ellipsis.cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    n_bullet = F.size(
        F.filter("__lines", lambda ln: F.trim(ln).rlike(r"^([-*•])")),
    )
    n_ell_end = F.size(F.filter("__lines", lambda ln: F.trim(ln).rlike(r"\.\.\.$")))
    bullet_ratio = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(
        n_lines > 0, n_ell_end.cast("double") / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    n_alpha = F.size(F.filter("__toks", lambda t: t.rlike("[A-Za-z]")))
    alpha_frac = F.when(
        n_words > 0, n_alpha.cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    stop_arr = F.array(*[F.lit(s) for s in stops])
    n_stop = F.size(
        F.filter("__toks", lambda t: F.array_contains(stop_arr, F.lower(t))),
    )
    rules = {
        "rule_word_count": (n_words >= min_words) & (n_words <= max_words),
        "rule_mean_word_len": (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len),
        "rule_symbol_ratio": (hash_ratio <= max_symbol_ratio)
        & (ellipsis_sym_ratio <= max_symbol_ratio),
        "rule_bullet_ratio": bullet_ratio <= max_bullet_ratio,
        "rule_ellipsis_ratio": ellipsis_ratio <= max_ellipsis_ratio,
        "rule_alpha_words": alpha_frac >= min_alpha_word_frac,
        "rule_stop_words": n_stop >= min_stop_words,
    }
    for name, expr in rules.items():
        d = d.withColumn(name, expr)
    all_pass = F.lit(True)
    for name in rules:
        all_pass = all_pass & F.col(name)
    return d.withColumn(out_col, all_pass).drop("__toks", "__lines")


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_lines: int = 1,
    require_terminal_punct: bool = True,
    blocklist: Sequence[str] = ("lorem ipsum", "javascript", "{"),
    out_col: str = "clean_text",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep a
    line only if it has ≥ ``min_words_per_line`` words, (optionally)
    ends in terminal punctuation (. ! ? "), and contains no blocklist
    fragment (case-insensitive); then DROP documents with fewer than
    ``min_lines`` surviving lines. Adds ``out_col`` (the re-joined
    cleaned text), ``n_lines_kept`` and ``n_lines_dropped``.

    One filter over each row's line array — per-row projection, no
    shuffle; the document drop is an ordinary pushdown-able filter.
    """
    if min_words_per_line < 1:
        raise ValueError("min_words_per_line must be >= 1")

    def _keep(ln: Column) -> Column:
        t = F.trim(ln)
        cond = F.size(tokens(t)) >= min_words_per_line
        if require_terminal_punct:
            cond = cond & t.rlike(r'[.!?"]$')
        low = F.lower(t)
        for frag in blocklist:
            cond = cond & ~low.contains(frag.lower())
        return cond

    d = df.withColumn("__lines", F.split(F.col(text_col), "\n"))
    kept = F.filter("__lines", _keep)
    return (
        d.withColumn("__kept", kept)
        .withColumn(out_col, F.array_join("__kept", "\n"))
        .withColumn("n_lines_kept", F.size("__kept"))
        .withColumn("n_lines_dropped", F.size("__lines") - F.size("__kept"))
        .filter(F.col("n_lines_kept") >= min_lines)
        .drop("__lines", "__kept")
    )


def conformal_threshold(
    df: DataFrame,
    score_col: str,
    alpha: float,
    by: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Split-conformal keep-threshold over a calibration frame of
    scores (Vovk et al.; Angelopoulos & Bates 2021, arXiv:2107.07511
    §2): the ``ceil((n+1)(1-alpha))``-th smallest score. Filtering a
    FUTURE exchangeable sample with ``score <= threshold`` then keeps
    any given conforming row with probability >= 1-alpha — the
    finite-sample guarantee a quantile-eyeballed cutoff lacks. With
    nonconformity = a quality-classifier's badness score, this turns
    "drop the worst-looking 10%" into a calibrated contract.

    Returns one row per group (or one row total): ``(by..., n_cal,
    rank, threshold)``. ``threshold`` is NULL when ``rank > n_cal``
    (alpha too small for the calibration size — no finite threshold
    certifies the coverage; Case 1 of the split-conformal definition).
    NULL scores are excluded from calibration.

    100 TB posture: the grouped path is a per-group sort window
    (partitioned — shuffles once on ``by``). The GLOBAL path never
    funnels rows through one task: it selects the rank-th order
    statistic via :func:`~rdsa_utils_spark.operators.windows.
    add_row_index` (range exchange + per-partition offsets), the same
    device that de-collapsed ``temporal_split``. Ties at the boundary
    rank are value-stable: the k-th smallest VALUE is well-defined
    under any tie order.
    """
    import math

    if not (0.0 < alpha < 1.0):
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    scores = df.select(
        *(list(by) if by else []),
        F.col(score_col).cast("double").alias("__s__"),
    ).filter(F.col("__s__").isNotNull())
    if by:
        from pyspark.sql import Window

        # counted (grp) AND ranked (picked): pin the projection so an
        # expensive upstream scorer runs once, same as the global path.
        scores = scores.transform(pin)
        grp = scores.groupBy(*by).agg(F.count(F.lit(1)).alias("n_cal"))
        rank_k = F.ceil(
            (F.col("n_cal") + F.lit(1)) * F.lit(1.0 - alpha),
        ).cast("long")
        w = Window.partitionBy(*[F.col(c) for c in by]).orderBy("__s__")
        picked = (
            scores.withColumn("__rn__", F.row_number().over(w))
            .join(grp.select(*by, rank_k.alias("__k__")), list(by))
            .filter(F.col("__rn__") == F.col("__k__"))
            .select(*by, F.col("__s__").alias("threshold"))
        )
        return (
            grp.select(*by, "n_cal", rank_k.alias("rank"))
            .join(picked, list(by), "left")
            .orderBy(*by)
        )
    scores = scores.transform(pin)  # counted AND ranked
    n = scores.count()
    if n == 0:
        raise ValueError("conformal_threshold: no non-null scores")
    k = math.ceil((n + 1) * (1.0 - alpha))
    spark = df.sparkSession
    if k > n:
        return spark.createDataFrame(
            [(n, k, None)], "n_cal long, rank long, threshold double",
        )
    from rdsa_utils_spark.operators.windows import add_row_index

    return (
        add_row_index(scores, ["__s__"], index_col="__rank__")
        .filter(F.col("__rank__") == k - 1)
        .select(
            F.lit(n).cast("long").alias("n_cal"),
            F.lit(k).cast("long").alias("rank"),
            F.col("__s__").alias("threshold"),
        )
    )


def doremi_reweight(
    df: DataFrame,
    domain_col: str,
    loss_col: str,
    *,
    steps: int = 8,
    eta: float = 0.5,
    loss_round: int = 6,
    term_round: int = 12,
    weight_round: int = 9,
    round_to: int = 6,
    max_driver_domains: int = 100_000,
) -> DataFrame:
    """DoReMi-style domain mixture reweighting (Xie et al. 2023,
    arXiv:2305.10429, "DoReMi: Optimizing Data Mixtures Speeds Up
    Language Model Pretraining", alg. 1 adapted): multiplicative-
    weights ascent on per-domain EXCESS loss, returning the
    time-averaged mixture — domains whose mean loss sits above the
    current mixture's weighted mean (hard-for-the-proxy domains) gain
    weight, saturated domains shed it. The full DoReMi recipe
    interleaves proxy-model training steps; this batch adaptation
    treats the per-example ``loss_col`` (e.g. an LM filter's
    negative-log-likelihood from ``lm_quality``) as the fixed excess
    signal and runs the same exponentiated-gradient update to its
    fixed point, which is the standard group-DRO reweighting loop
    (Sagawa et al. 2020) the paper builds on.

    Update per step t (all on the |domains|-row frame):
    ``excess_d = max(0, mean_loss_d − Σ_e w_e·mean_loss_e)``;
    ``w'_d = w_d · exp(η·excess_d)`` quantized to ``term_round``;
    ``w ← w'/Σw'`` quantized to ``weight_round``. Output weight =
    average of w over the ``steps`` trajectory (DoReMi's returned
    mixture), rounded ``round_to``.

    Replay contract: per-domain mean loss = quantize(``loss_round``) →
    decimal sum → ONE double division; every step's mixture mean
    decimal-sums ``term_round``-quantized products; weights quantize
    after every step — the trajectory is engine-exact, so a
    fixed-``steps`` ANSI-SQL unroll (MATERIALIZED per-step CTEs, the
    logreg/BT replay device) reproduces it bit-for-bit.

    100 TB posture: the corpus is touched by exactly ONE map-side-
    combined groupBy(domain); all ``steps`` iterations run on the
    domain-cardinality frame with a 1-row mixture-mean attach per step
    (broadcast, the adjudicated scalar-attach shape) and a
    pin per step (the PageRank/BT device).
    NULL domains/losses are excluded.
    """
    if steps < 1:
        raise ValueError(f"steps must be >= 1, got {steps}")
    if eta <= 0:
        raise ValueError(f"eta must be > 0, got {eta}")
    x = F.round(F.col(loss_col).cast("double"), loss_round)
    base = (
        df.filter(F.col(domain_col).isNotNull() & F.col(loss_col).isNotNull())
        .groupBy(F.col(domain_col).alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(x.cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__ml_raw"),
        )
        .select(
            "domain",
            "n",
            F.round(F.col("__ml_raw"), loss_round).alias("mean_loss"),
        )
        .transform(pin)  # domain-cardinality; every step
    )
    k = base.count()
    if k == 0:
        raise ValueError("doremi_reweight: no non-null (domain, loss) rows")
    from rdsa_utils_spark.operators.classify import _round_half_up

    if max_driver_domains and k <= max_driver_domains:
        # Driver fast path (round-12; the bpe max_driver_vocab / BT
        # max_driver_pairs device): the step loop runs on the
        # DOMAIN-cardinality frame only — k rows — so once the corpus
        # has been reduced by the one groupBy above, `steps`
        # distributed rounds are pure scheduler overhead (measured:
        # 38 jobs, 0.14 s of actual task time at bench scale). Collect
        # the k-row aggregate (a capped, docstring-declared collect)
        # and replay the EXACT engine arithmetic in Python: every
        # quantization is `_round_half_up` (same BigDecimal.valueOf +
        # HALF_UP semantics as F.round on double), every cross-row
        # reduction an exact Decimal sum of 12-dp-quantized terms
        # (`Decimal(repr(x)).quantize(1e-12)` IS the engine's
        # double→decimal cast), and the trajectory sum is the same
        # sequential double addition. Bit-identical by the operator's
        # own replay contract — pinned against the distributed path in
        # tests/test_round8_ops.py. Pass 0 to force distributed steps.
        import math
        from decimal import ROUND_HALF_UP, Decimal

        q12 = Decimal(1).scaleb(-term_round)

        def _dec(x: float) -> Decimal:
            return Decimal(repr(float(x))).quantize(q12, ROUND_HALF_UP)

        rows = base.select("domain", "n", "mean_loss").collect()
        doms = [(r["domain"], int(r["n"]), float(r["mean_loss"])) for r in rows]
        w0d = _round_half_up(1.0 / k, weight_round)
        w = {d: w0d for d, _, _ in doms}
        ws = {d: 0.0 for d, _, _ in doms}
        for _ in range(steps):
            mix = float(sum(
                _dec(_round_half_up(w[d] * ml, term_round))
                for d, _, ml in doms
            ))
            raw = {
                d: _round_half_up(
                    w[d] * math.exp(float(eta) * max(0.0, ml - mix)),
                    term_round,
                )
                for d, _, ml in doms
            }
            tot = float(sum(_dec(raw[d]) for d, _, _ in doms))
            for d, _, _ in doms:
                w[d] = _round_half_up(raw[d] / tot, weight_round)
                ws[d] += w[d]
        # Sort on the driver instead of a plan-side orderBy: domains
        # are unique groupBy keys (no ties) and Python's code-point
        # string order equals Spark's UTF8String binary order, so the
        # literal frame's row order IS the orderBy("domain") order —
        # and skips the range-partitioner sampling job (~0.35 s).
        out = sorted(
            (d, n, ml, _round_half_up(ws[d] / steps, round_to) + 0.0)
            for d, n, ml in doms
        )
        dom_field = base.schema["domain"]
        spark = df.sparkSession
        from pyspark.sql import types as T

        schema = T.StructType([
            dom_field,
            T.StructField("n", T.LongType(), False),
            T.StructField("mean_loss", T.DoubleType(), True),
            T.StructField("weight", T.DoubleType(), True),
        ])
        return spark.createDataFrame(out, schema)

    w0 = _round_half_up(1.0 / k, weight_round)  # SQL-ROUND semantics
    # state carries BOTH the live weight and the trajectory sum, so
    # each step is one k-row materialization, not two
    state = base.select(
        "domain",
        F.lit(float(w0)).alias("__w"),
        F.lit(0.0).cast("double").alias("__ws"),
    )
    for _ in range(steps):
        mix = (
            state.join(base.select("domain", "mean_loss"), "domain")
            .agg(
                F.sum(
                    F.round(F.col("__w") * F.col("mean_loss"), term_round)
                    .cast("decimal(25,12)"),
                )
                .cast("double")
                .alias("__mix"),
            )
        )
        raw = (
            state.join(base.select("domain", "mean_loss"), "domain")
            .crossJoin(mix)
            .select(
                "domain",
                "__ws",
                F.round(
                    F.col("__w")
                    * F.exp(
                        F.lit(float(eta))
                        * F.greatest(
                            F.lit(0.0), F.col("mean_loss") - F.col("__mix"),
                        ),
                    ),
                    term_round,
                ).alias("__raw"),
            )
        )
        tot = raw.agg(
            F.sum(F.col("__raw").cast("decimal(25,12)"))
            .cast("double")
            .alias("__t"),
        )
        w_new = F.round(F.col("__raw") / F.col("__t"), weight_round)
        state = (
            raw.crossJoin(tot)
            .select(
                "domain",
                w_new.alias("__w"),
                (F.col("__ws") + w_new).alias("__ws"),
            )
            .transform(pin)
        )
    return (
        base.join(state, "domain")
        .select(
            "domain",
            "n",
            "mean_loss",
            (F.round(F.col("__ws") / F.lit(float(steps)), round_to)
             + F.lit(0.0)).alias("weight"),
        )
        .orderBy("domain")
    )
