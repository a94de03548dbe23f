"""Deterministic sampling / splitting operators for training-data
pipelines.

No reference equivalent (extension surface, SURVEY.md §0/§7): the
selection primitives a 100 TB corpus pipeline needs ahead of training —
reproducible train/val/test splits, per-domain caps, stratified
down-sampling and corpus vocabularies. All pure JVM expressions
(codegen'd, no Python in the hot path) and all DETERMINISTIC: rerunning
the pipeline on the same inputs yields byte-identical splits, which is
what makes ablations and incremental re-trains comparable.

The uniform variate is the first 12 hex digits of ``md5(id || seed)``
parsed base-16 and divided by 16^12 — 48 bits of hash, exact in a
double, reproducible across engines (the same md5-prefix primitive the
SimHash/LSH oracles proved bit-equal to DuckDB's recipe).

100 TB posture: hash-split and stratified-sample are narrow
(filter/withColumn only — no shuffle, no state); ``cap_per_group`` is
one hash-partitioned window on the group key — the same shape as
``drop_duplicates_reproducible``; ``vocabulary`` is an explode +
map-side-combinable count whose (term) shuffle carries only distinct
terms per partition.
"""

from __future__ import annotations

from itertools import chain
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin

__all__ = [
    "hash_uniform",
    "deterministic_split",
    "deterministic_shuffle",
    "stratified_sample",
    "cap_per_group",
    "vocabulary",
    "pack_sequences",
    "mix_corpora",
    "weighted_sample",
    "weighted_sample_per_group",
    "negative_sample",
    "temperature_resample",
    "temporal_split",
    "cluster_safe_split",
    "token_budget_mix",
]

_HEX_DIGITS = 12  # 48 bits: exact in a double, cheap to mirror in SQL


def hash_uniform(col: Column | str, seed: str = "") -> Column:
    """Deterministic uniform variate in [0, 1) from a column value.

    ``md5(concat(col, ':', seed))`` first 12 hex digits, parsed base-16,
    divided by 16^12. Stable across runs, partitionings and engines —
    unlike ``F.rand(seed)``, whose output depends on partition layout.
    """
    c = F.col(col) if isinstance(col, str) else col
    digits = F.substring(F.md5(F.concat(c.cast("string"), F.lit(":" + seed))), 1, _HEX_DIGITS)
    return (F.conv(digits, 16, 10).cast("double") / F.lit(float(16 ** _HEX_DIGITS)))


def deterministic_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float],
    seed: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by hashed
    id — reproducible, partition-independent, and stable under corpus
    growth (adding documents never moves an existing document between
    splits, unlike ``randomSplit``).

    ``weights`` values must be positive; they are normalized to 1. The
    row's variate is compared against cumulative weight boundaries in
    the mapping's iteration order.
    """
    if not weights:
        raise ValueError("weights must be a non-empty mapping")
    total = float(sum(weights.values()))
    if total <= 0 or any(w <= 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {dict(weights)}")
    u = hash_uniform(id_col, seed)
    expr: Column | None = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        branch = F.when(u < F.lit(acc), F.lit(name))
        expr = branch if expr is None else expr.when(u < F.lit(acc), F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float] | float,
    id_col: str,
    seed: str = "sample",
) -> DataFrame:
    """Deterministic per-stratum down-sampling: keep a row iff its
    hashed-id variate falls below the stratum's fraction.

    Unlike ``df.sampleBy`` this is exactly reproducible (no RNG state,
    no partition sensitivity) and composable: sampling at 0.5 then 0.5
    again with the same seed keeps the SAME rows, while two different
    seeds compose to ~0.25. A float ``fractions`` applies one rate to
    every stratum.
    """
    u = hash_uniform(id_col, seed)
    if isinstance(fractions, Mapping):
        for k, v in fractions.items():
            if not 0.0 <= v <= 1.0:
                raise ValueError(f"fraction for {k!r} must be in [0, 1], got {v}")
        rate = F.coalesce(
            *[
                F.when(F.col(strata_col) == F.lit(k), F.lit(float(v)))
                for k, v in fractions.items()
            ],
            F.lit(0.0),
        ) if fractions else F.lit(0.0)
    else:
        if not 0.0 <= float(fractions) <= 1.0:
            raise ValueError(f"fraction must be in [0, 1], got {fractions}")
        rate = F.lit(float(fractions))
    return df.filter(u < rate)


def cap_per_group(
    df: DataFrame,
    group_col: str | Sequence[str],
    max_rows: int,
    order_col: str | Column | None = None,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep at most ``max_rows`` rows per group — the per-domain cap of
    web-corpus curation (no single domain may dominate the corpus).

    Ordering is ``order_col`` (default: the tiebreak column) with
    ``tiebreak_col`` appended so selection is deterministic under ties;
    pass the dataset's unique id as the tiebreaker.

    One hash-partitioned window on the group key; with AQE skew
    handling the heavy domains split across tasks during the shuffle
    and only the rank filter differs from a plain aggregation.
    """
    if max_rows < 1:
        raise ValueError(f"max_rows must be >= 1, got {max_rows}")
    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    if tiebreak_col is None and order_col is None:
        raise ValueError("pass order_col and/or tiebreak_col (unique id) for determinism")
    ordering: list[Column] = []
    if order_col is not None:
        ordering.append(F.col(order_col) if isinstance(order_col, str) else order_col)
    if tiebreak_col is not None:
        ordering.append(F.col(tiebreak_col))
    w = Window.partitionBy(*groups).orderBy(*ordering)
    rank = "__cap_rank__"
    return (
        df.withColumn(rank, F.row_number().over(w))
        .filter(F.col(rank) <= max_rows)
        .drop(rank)
    )


def vocabulary(
    df: DataFrame,
    text_col: str,
    min_count: int = 1,
    k: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: whitespace-lowercased terms with global
    occurrence counts, most frequent first (term as tiebreak), filtered
    to ``min_count`` and optionally truncated to the top ``k``.

    Explode + count: the map-side partial combine collapses each term
    to one row per input partition before the single (term) shuffle, so
    shuffle volume is bounded by distinct-terms × partitions, not token
    occurrences. Top-k goes through ``TakeOrderedAndProject`` (no
    global sort materialization).
    """
    from rdsa_utils_spark.operators.text import tokens

    counts = (
        df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("term_count"))
        .filter(F.col("term_count") >= min_count)
        .orderBy(F.desc("term_count"), "term")
    )
    return counts.limit(k) if k is not None else counts


def deterministic_shuffle(
    df: DataFrame,
    id_col: str,
    seed: str = "shuffle",
    key_col: str = "shuffle_key",
    num_partitions: int | None = None,
) -> DataFrame:
    """Reproducible global shuffle for training order: attach a
    ``md5(id || ':' || seed)`` sort key and range-partition + sort the
    frame by it, so that writing the result yields files in a stable
    pseudo-random document order — identical across runs, engines and
    cluster sizes (unlike ``orderBy(rand(seed))``, whose draw depends
    on partition layout).

    100 TB posture: NO global single-partition window — the total
    order comes from ``repartitionByRange`` (sampled range boundaries,
    one exchange) followed by a per-partition sort, the same plan
    Spark's own ``orderBy`` lowers to. Epoch re-shuffles are just a
    new ``seed``. The key column stays in the output for audit /
    resumable readers; drop it after write if undesired.
    """
    key = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(":" + seed)))
    out = df.withColumn(key_col, key)
    parts = num_partitions or out.sparkSession.sparkContext.defaultParallelism
    return (
        out.repartitionByRange(parts, F.col(key_col))
        .sortWithinPartitions(key_col)
    )


def pack_sequences(
    df: DataFrame,
    token_col: Column | str,
    id_col: str,
    target_tokens: int,
    n_shards: int = 64,
    seed: str = "",
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs (sequence
    packing): adds ``pack_shard`` and ``pack_id`` columns; a pack is
    the set of rows sharing ``(pack_shard, pack_id)``, built by laying
    documents end-to-end in deterministic ``id_col`` order and cutting
    every ``target_tokens``.

    A document is assigned by its START offset in the shard's token
    stream — ``floor(prefix_sum_exclusive / target_tokens)`` — so packs
    average ``target_tokens`` and may overhang by at most the last
    document's length (pre-split long documents with
    ``text.chunk_documents`` to bound the overhang; a document longer
    than the target leaves gap pack ids after it, which downstream
    writers should treat as absorbed by its pack).

    Deterministic: sharding uses :func:`hash_uniform` (md5-based, no
    partition-layout dependence) and ordering uses the unique
    ``id_col``, so reruns produce byte-identical packs — ablations on
    repacked corpora stay comparable.

    100 TB posture: pack construction is inherently sequential in the
    document stream, so the corpus is hash-split into ``n_shards``
    independent streams packed in parallel — one hash-partitioned
    window (single shuffle of (id, token_count) pairs), prefix-sum and
    floor-division all codegen'd, no Python. Cost of sharding is at
    most one underfull pack per shard tail, negligible while
    ``n_shards × target_tokens`` is small against total corpus tokens
    (at 100 TB set n_shards ≈ cluster cores; the per-shard stream is
    still billions of tokens).
    """
    if target_tokens <= 0:
        raise ValueError(f"target_tokens must be positive, got {target_tokens}")
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    tok = (F.col(token_col) if isinstance(token_col, str) else token_col).cast("long")
    shard = F.floor(hash_uniform(id_col, seed) * F.lit(n_shards)).cast("int")
    w = (
        Window.partitionBy("pack_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(tok).over(w)
    return df.withColumn("pack_shard", shard).withColumn(
        "pack_id", F.floor((cum - tok) / F.lit(target_tokens)).cast("long"),
    )


def mix_corpora(
    df: DataFrame,
    source_col: str,
    id_col: str,
    target_props: Mapping[str, float],
    seed: str = "mix",
) -> DataFrame:
    """Down-sample a multi-source corpus to hit a target mixture —
    the data-mixing step of training-set assembly ("50% web, 30%
    books, 20% code"). Keeps the LARGEST subset achieving the exact
    target proportions: the binding source (smallest n_s/p_s) is
    kept whole and every other source is hash-thinned to match.
    Sources not named in ``target_props`` are dropped. A NAMED source
    with zero rows makes the result EMPTY (the only subset achieving
    the exact proportions) — a loud signal of a typo'd label or a
    missing ingest, never a silently violated mixture.

    Selection is :func:`hash_uniform` on ``id_col`` — deterministic,
    partition-independent, externally replayable, and stable under
    corpus growth within a source. Per-source keep-rates derive from
    a tiny ``groupBy(source)`` count table (one scalar min + a
    broadcast rate join); nothing driver-side.

    ``target_props`` should sum to 1 (validated) so the rate
    arithmetic is reproducible from the documented literals.
    """
    if not target_props:
        raise ValueError("target_props must be non-empty")
    if any(p <= 0 for p in target_props.values()):
        raise ValueError(f"proportions must be positive, got {dict(target_props)}")
    total = float(sum(target_props.values()))
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"target_props must sum to 1, got {total}")

    # Counts are keyed by the NAMED source list, not the observed
    # sources: a target source absent from df (zero rows) makes the
    # binding constant C = min(n_s/p_s) = 0, so every keep-rate is 0
    # and the output is EMPTY — the only subset that achieves the
    # exact target proportions. The old observed-sources derivation
    # silently ignored the absent source and returned a mixture that
    # violated the contract.
    named = df.sparkSession.createDataFrame(
        [(s, float(p)) for s, p in target_props.items()],
        [source_col, "__p"],
    )
    counts = named.join(
        df.filter(F.col(source_col).isin(*target_props.keys()))
        .groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("__n")),
        source_col,
        "left",
    ).select(source_col, "__p", F.coalesce(F.col("__n"), F.lit(0)).alias("__n"))
    # counts is consumed by TWO branches (the binding-constant min and
    # the rate table); pin the |sources|-row frame so the corpus scan
    # behind it runs once and AQE cannot re-plan the shared subtree
    # differently per consumer.
    counts = counts.transform(pin)
    c = counts.agg(
        F.min(F.col("__n").cast("double") / F.col("__p")).alias("__C"),
    )
    rates = counts.crossJoin(c).select(
        source_col,
        F.when(
            F.col("__n") > 0,
            F.least(
                F.lit(1.0),
                F.col("__C") * F.col("__p") / F.col("__n").cast("double"),
            ),
        ).otherwise(F.lit(0.0)).alias("__rate"),
    )
    u = hash_uniform(id_col, seed)
    return (
        # broadcast: Catalyst estimates a cross join's output as the product of its inputs
        df.join(F.broadcast(rates), source_col)
        .filter(u < F.col("__rate"))
        .drop("__rate")
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: keep ``k`` rows where
    each row's inclusion probability is proportional to its weight —
    the Efraimidis–Spirakis A-ES scheme: rank every row by
    ``u^(1/w)`` (``u`` = :func:`hash_uniform` variate) and take the
    top k. One distributed top-k (TakeOrderedAndProject — per-
    partition heaps, no global sort), deterministic and replayable
    because the variate is the md5 hash, not RNG state.

    Rows with non-positive or NULL weights are excluded (they have
    zero inclusion probability). Ties (identical keys) break by
    ``id_col`` so the sample is a pure function of the data.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.col(weight_col).cast("double")
    u = hash_uniform(id_col, seed)
    key = F.pow(u, F.lit(1.0) / w)
    return (
        df.filter(w > 0)
        .withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col).asc())
        .limit(k)
        .drop("__wkey")
    )


def split_leakage_report(
    df: DataFrame,
    split_col: str,
    text_col: str,
) -> DataFrame:
    """Train/eval leakage audit: for every ordered pair of splits,
    how many distinct normalized-text fingerprints appear in BOTH —
    the check a curation pipeline runs before shipping a split layout
    (an eval document whose exact text sits in train invalidates the
    benchmark; group-unaware random splits cause this constantly).

    Output: (``split_a``, ``split_b``, ``n_shared_fingerprints``,
    ``n_leaked_rows_b``) with ``split_a < split_b`` lexically —
    ``n_leaked_rows_b`` counts the rows of ``split_b`` whose
    fingerprint also occurs in ``split_a`` (the eval-side casualties
    when b is the eval split).

    One shuffle shape: fingerprints reduce to DISTINCT
    (split, digest) pairs first — document bodies never join — then a
    self-equi-join on digest across different splits and one
    aggregation. Row counts per (split, digest) ride along from the
    first aggregation, so the leaked-row tally costs nothing extra.
    """
    from rdsa_utils_spark.operators.text import with_fingerprint

    fp = (
        with_fingerprint(df, text_col, "__fp__")
        .groupBy(split_col, "__fp__")
        .agg(F.count(F.lit(1)).alias("__rows__"))
    )
    a = fp.select(
        F.col(split_col).alias("split_a"), "__fp__",
    )
    b = fp.select(
        F.col(split_col).alias("split_b"),
        "__fp__",
        F.col("__rows__").alias("__rows_b__"),
    )
    return (
        a.join(b, "__fp__")
        .filter(F.col("split_a") < F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_fingerprints"),
            F.sum("__rows_b__").alias("n_leaked_rows_b"),
        )
    )


def negative_sample(
    anchors: DataFrame,
    corpus: DataFrame,
    anchor_id: str,
    corpus_id: str,
    k: int = 5,
    seed: str = "neg",
) -> DataFrame:
    """Deterministic uniform negative sampling for contrastive /
    ranking training: for every anchor row, draw up to ``k`` corpus
    rows by hashed pseudo-randomness — reproducible across runs,
    partitionings and engines (no RNG state), unlike ``F.rand``-based
    sampling.

    Draw *i* for anchor *a* lands on corpus slot
    ``hash48(a ':' seed ':' i) mod N`` where slots come from
    :func:`~rdsa_utils_spark.operators.windows.add_row_index` over the
    corpus ids (contiguous 0..N−1, no single-task sort). Sampling is
    WITH replacement across draws; draws that hit the anchor's own id
    are dropped, so an anchor can yield fewer than ``k`` rows
    (corpus ≫ k makes this vanishingly rare).

    Plan shape at 100 TB: one indexed-corpus build (range layout +
    per-partition offsets), an explode of anchors × k (linear), and
    ONE equi-join of draws against slots — hash-shuffle on a
    uniformly distributed key, no skew, no broadcast of the corpus.
    Output: (``anchor_id``, ``draw``, ``negative_id``).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from rdsa_utils_spark.operators.windows import add_row_index

    slots = add_row_index(
        corpus.select(F.col(corpus_id).alias("__neg_id__")), ["__neg_id__"],
        index_col="__slot__",
    ).transform(pin)
    n = slots.count()
    if n == 0:
        raise ValueError("negative_sample: corpus is empty")
    draws = anchors.select(F.col(anchor_id).alias("__a__")).select(
        "__a__", F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("draw"),
    )
    digits = F.substring(
        F.md5(
            F.concat(
                F.col("__a__").cast("string"),
                F.lit(":" + seed + ":"),
                F.col("draw").cast("string"),
            ),
        ),
        1,
        _HEX_DIGITS,
    )
    # 48-bit value fits a long exactly; integer mod replays in SQL.
    slot = F.conv(digits, 16, 10).cast("long") % F.lit(n)
    picked = (
        draws.withColumn("__slot__", slot)
        .join(slots, "__slot__")
        .filter(F.col("__neg_id__").cast("string") != F.col("__a__").cast("string"))
        .select(
            F.col("__a__").alias(anchor_id),
            "draw",
            F.col("__neg_id__").alias("negative_id"),
        )
    )
    return picked


def temperature_resample(
    df: DataFrame,
    group_col: str,
    id_col: str,
    alpha: float = 0.5,
    target_total: int | None = None,
    seed: str = "",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Temperature-based domain rebalancing: resample so each group's
    share of the output follows ``n_g^alpha`` (normalized) instead of
    its raw share — the standard multilingual/multi-domain LLM recipe
    (alpha=1 keeps natural proportions, alpha=0 equalizes groups,
    alpha≈0.3–0.7 up-weights the tail without flattening the head).

    Rows whose group is under-represented are REPLICATED (integer
    copies + one fractional copy kept with probability ``frac``), so
    per-group expected output count = ``rate_g · n_g = p_g · T`` where
    ``T = target_total or count(df)``. Selection uses
    :func:`hash_uniform` over ``id_col || copy_idx`` — deterministic,
    partition-independent, engine-portable (SQL-replayable). The
    ``copy_col`` output column (0-based replica index) keeps replicas
    distinguishable for downstream shuffling/packing.

    100 TB posture: one map-side-combinable groupBy over
    ``group_col`` (domain-cardinality rows) broadcast back onto the
    corpus, then a generator expression per row — no wide shuffle of
    the corpus itself; replication factor is bounded by
    ``ceil(max_g rate_g)``.
    """
    if alpha < 0:
        raise ValueError("temperature_resample: alpha must be >= 0")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n__"))
    # normalizer and total on the driver-free path: a 1-row aggregate
    # broadcast-attached (same stat-attach shape as tfidf/pagerank).
    tot = counts.agg(
        F.sum(F.pow(F.col("__n__").cast("double"), F.lit(alpha))).alias("__z__"),
        F.sum("__n__").alias("__ntot__"),
    )
    rates = (
        counts.crossJoin(tot)
        .withColumn(
            "__rate__",
            F.pow(F.col("__n__").cast("double"), F.lit(alpha))
            / F.col("__z__")
            * (F.lit(target_total).cast("double") if target_total is not None else F.col("__ntot__").cast("double"))
            / F.col("__n__").cast("double"),
        )
        .select(group_col, "__rate__")
    )
    out = (
        # broadcast: Catalyst estimates a cross join's output as the product of its inputs
        df.join(F.broadcast(rates), group_col)
        .withColumn(
            copy_col,
            F.explode(F.sequence(F.lit(0), F.ceil(F.col("__rate__")).cast("int") - 1)),
        )
        .filter(
            (F.col(copy_col) < F.floor("__rate__"))
            | (
                hash_uniform(
                    F.concat(F.col(id_col).cast("string"), F.lit("#"), F.col(copy_col).cast("string")),
                    seed,
                )
                < F.col("__rate__") - F.floor("__rate__")
            )
        )
        .drop("__rate__")
    )
    return out


def temporal_split(
    df: DataFrame,
    ts_col: str,
    train_frac: float = 0.9,
    split_col: str = "split",
    boundary: str = "exact",
    num_partitions: int | None = None,
    approx_accuracy: int = 10000,
) -> DataFrame:
    """Time-based train/validation split: the train set is the
    smallest time-prefix holding at least ``train_frac`` of the rows
    — i.e. the boundary is the ``ceil(frac·n)``-th smallest timestamp
    and ``split = 'train'`` iff ``ts <= boundary`` (ties at the
    boundary all land in train, so the cut is a pure time predicate —
    no row of a given instant is ever split across sets, the property
    that prevents leakage through co-timestamped records).

    ``boundary='exact'`` (default) finds the k-th smallest timestamp
    WITHOUT a global single-task sort: range-repartition the
    one-column ts projection (the layout ``orderBy`` lowers to),
    per-partition counts to the driver (≤ #partitions rows — this
    also yields ``n``, so there is no separate ``count()`` job), a
    driver prefix-sum locates the partition holding rank k, and a
    per-partition ``row_number`` on THAT partition alone extracts the
    boundary value (same machinery as
    :func:`rdsa_utils_spark.operators.windows.add_row_index`). Every
    data-sized stage is parallel; the serial work is O(#partitions).

    ``boundary='approx'`` swaps the rank selection for one
    ``percentile_approx`` aggregation (no repartition at all) — the
    100 TB fast path when the frontier may be off by the sketch error;
    the split is still a pure time predicate. Numeric, timestamp and
    date columns are supported (timestamps sketch on exact integer
    ``unix_micros``).
    """
    if not 0 < train_frac < 1:
        raise ValueError("temporal_split: train_frac must be in (0, 1)")
    if boundary not in ("exact", "approx"):
        raise ValueError("temporal_split: boundary must be 'exact' or 'approx'")

    def _attach(bound_df: DataFrame) -> DataFrame:
        return (
            # broadcast: Catalyst sizes the exact path's one-row boundary as the pin it filters
            df.crossJoin(F.broadcast(bound_df))
            .withColumn(
                split_col,
                F.when(
                    F.col(ts_col) <= F.col("__boundary__"), F.lit("train"),
                ).otherwise(F.lit("valid")),
            )
            .drop("__boundary__")
        )

    if boundary == "approx":
        from rdsa_utils_spark.functions.columns import resolve_field_type

        dtype = resolve_field_type(df, ts_col).simpleString()
        if dtype.startswith("timestamp"):
            proxy = F.unix_micros(F.col(ts_col).cast("timestamp"))
            back = lambda c: F.timestamp_micros(c)  # noqa: E731
        elif dtype == "date":
            proxy = F.unix_date(F.col(ts_col))
            back = lambda c: F.date_from_unix_date(c)  # noqa: E731
        else:
            proxy = F.col(ts_col)
            back = lambda c: c  # noqa: E731
        # A NULL boundary (all-NULL column) must still LABEL every row
        # ('ts <= NULL' is never true → all 'valid', matching the exact
        # path) — filtering the 1-row frame would annihilate the input
        # through the crossJoin and silently drop a bad ingest batch.
        b = df.agg(
            back(
                F.percentile_approx(proxy, F.lit(train_frac), F.lit(approx_accuracy)),
            ).alias("__boundary__"),
        )
        return _attach(b)

    import math

    parts = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    laid = (
        df.select(F.col(ts_col).alias("__ts__"))
        .repartitionByRange(parts, "__ts__")
        .sortWithinPartitions("__ts__")
        .withColumn("__pid__", F.spark_partition_id())
        # pin the sampled range boundaries so the counts pass and the
        # boundary pass see the same partition assignment.
        .transform(pin)
    )
    counts = {
        r["__pid__"]: r["cnt"]
        for r in laid.groupBy("__pid__").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n = sum(counts.values())
    if n == 0:
        empty = laid.select(F.col("__ts__").alias("__boundary__")).limit(0)
        return _attach(empty)
    k = max(1, math.ceil(train_frac * n))
    acc = 0
    target_pid, local_k = 0, k
    for pid in sorted(counts):
        if acc + counts[pid] >= k:
            target_pid, local_k = pid, k - acc
            break
        acc += counts[pid]
    w = Window.partitionBy("__pid__").orderBy("__ts__")
    b = (
        laid.filter(F.col("__pid__") == F.lit(target_pid))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == F.lit(local_k))
        .select(F.col("__ts__").alias("__boundary__"))
    )
    return _attach(b)


def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
    weights: Mapping[str, float],
    cluster_id_col: str = "cluster_id",
    cluster_member_col: str = "id",
    seed: str = "split",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: every member of a
    near-duplicate cluster lands in the SAME split, so a validation
    document can never have a near-copy in train — the standard
    eval-decontamination requirement that a plain per-document hash
    split violates.

    ``clusters`` is a (member, cluster_id) frame — e.g. the output of
    :func:`rdsa_utils_spark.operators.dedup.dedup_clusters` over a
    near-dup pair graph; it only needs rows for documents that ARE in
    some cluster (singletons may be absent). The split key is
    ``coalesce(cluster_id, id)``: clustered documents hash by their
    cluster representative, singletons by their own id, then
    :func:`deterministic_split` assigns names — reproducible,
    partition-independent, stable under corpus growth.

    One broadcast-or-shuffle left equi-join on the id (the cluster
    frame is |clustered docs| rows, typically ≪ corpus) plus the
    stateless hash projection — no extra shuffle beyond the join.
    """
    c = clusters.select(
        F.col(cluster_member_col).alias("__cs_member"),
        F.col(cluster_id_col).alias("__cs_cluster"),
    )
    joined = df.join(c, df[id_col] == F.col("__cs_member"), "left")
    keyed = joined.withColumn(
        "__cs_key",
        F.coalesce(F.col("__cs_cluster").cast("string"), F.col(id_col).cast("string")),
    ).drop("__cs_member", "__cs_cluster")
    return deterministic_split(keyed, "__cs_key", weights, seed=seed, split_col=split_col).drop(
        "__cs_key",
    )


def token_budget_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    token_count_col: str,
    budgets: Mapping[str, int],
    seed: str = "mix",
    n_buckets: int = 1024,
    cum_col: str | None = "cum_tokens",
) -> DataFrame:
    """Token-budgeted mixture assembly: for each source named in
    ``budgets``, keep a deterministic random prefix of its documents
    whose cumulative token count stays within the source's budget —
    the "2B tokens of code, 1B of books" step of training-set
    assembly, where budgets are TOKENS, not document counts (doc-count
    mixing over-weights long-document sources). Sources not named are
    dropped. Greedy-prefix semantics: documents are ordered by
    ``hash_uniform(id)`` (ties by id), and a document is kept iff the
    running total INCLUDING it is ≤ budget; output carries that
    running total in ``cum_col``.

    100 TB posture — the naive form (one window per source over the
    whole corpus) funnels each source through a single partition.
    Instead the hash order is refined in two tiers: documents land in
    ``floor(u·n_buckets)`` buckets (bucket order IS a prefix of the
    hash order), per-(source, bucket) token sums make a tiny frame
    whose running total locates the BOUNDARY bucket per source; the
    empty tail after it is dropped by a pushdown-able filter, and the
    exact per-document running total runs per (source, bucket) —
    sources × n_buckets well-spread partitions, never one partition
    per source. A row is kept iff its whole bucket fits the budget or
    its own in-bucket prefix does. Identical output to the naive
    window, engine-replayable bit-for-bit.

    ``cum_col`` adds the per-source running token total over the KEPT
    rows — that window is bounded by the budget (≤ budget documents
    per source), not the corpus, but a budget comparable to the whole
    source still funnels that source's kept rows through one
    partition; pass ``cum_col=None`` to skip it when only membership
    is needed (the selection tiers never window a whole source).
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    if any(b < 0 for b in budgets.values()):
        raise ValueError(f"budgets must be >= 0, got {dict(budgets)}")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")

    budget_expr = F.create_map(
        *chain.from_iterable(
            (F.lit(s), F.lit(int(b))) for s, b in budgets.items()
        ),
    )
    d = (
        df.filter(F.col(source_col).isin(list(budgets)))
        .withColumn("__u", hash_uniform(F.col(id_col), seed))
        .withColumn("__tok", F.col(token_count_col).cast("long"))
        .withColumn("__budget", budget_expr[F.col(source_col)])
        .withColumn(
            "__bkt", F.least(F.floor(F.col("__u") * n_buckets).cast("int"), F.lit(n_buckets - 1)),
        )
    )
    # Tier 1: per-(source, bucket) token totals — at most
    # |sources|·n_buckets rows; the running total over buckets (tiny
    # window) gives each bucket's cumulative offset and finds the
    # boundary bucket (first bucket whose running total exceeds the
    # budget).
    bw = Window.partitionBy(source_col).orderBy("__bkt")
    buckets = (
        d.groupBy(source_col, "__bkt")
        .agg(F.sum("__tok").alias("__bt"))
        .withColumn("__cum_end", F.sum("__bt").over(bw))
        .withColumn("__offset", F.col("__cum_end") - F.col("__bt"))
        .select(source_col, "__bkt", "__offset", "__cum_end")
    )
    # Tier 2 in ONE pass (no whole/boundary branching): the tail
    # buckets (offset already >= budget) drop via a pushdown-able
    # filter, then a single per-(source, bucket) running total decides
    # every survivor. A row is kept iff its whole bucket fits
    # (cum_end <= budget) or its own in-bucket prefix fits
    # (offset + cum_in <= budget) — exactly the old whole ∪ partial
    # set. Branching instead re-executed the scan-side subtree per
    # branch (4 corpus scans in the physical plan: 2 staged branches
    # plus the buckets aggregate rebuilt under each union arm); the
    # fused form plans 2 corpus scans — the two-pass information floor
    # — at the cost of running the bucket-partitioned window over
    # whole buckets too (well-spread: sources × n_buckets partitions,
    # narrow rows; the rows were already shuffled for the old
    # boundary window's exchange anyway).
    # broadcast: buckets reads a pin, and a cluster pin's scan has no size statistic
    staged = d.join(F.broadcast(buckets), [source_col, "__bkt"]).filter(
        (F.col("__cum_end") <= F.col("__budget")) | (F.col("__offset") < F.col("__budget")),
    )
    dw = (
        Window.partitionBy(source_col, "__bkt")
        .orderBy(F.col("__u").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        staged.withColumn("__cum_in", F.sum("__tok").over(dw))
        .filter(
            (F.col("__cum_end") <= F.col("__budget"))
            | (F.col("__offset") + F.col("__cum_in") <= F.col("__budget")),
        )
        .drop("__cum_in")
    )
    # cum_col: the per-source running total over the KEPT rows only
    # (budget-bounded, never a whole raw source).
    if cum_col is not None:
        ow = (
            Window.partitionBy(source_col)
            .orderBy(F.col("__u").asc(), F.col(id_col).asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        out = out.withColumn(cum_col, F.sum("__tok").over(ow))
    return out.drop(
        "__u", "__tok", "__budget", "__bkt", "__offset", "__cum_end",
    )


def weighted_sample_per_group(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_cols: Sequence[str],
    seed: str = "wsample",
) -> DataFrame:
    """Per-group weighted sampling WITHOUT replacement: ``k`` rows per
    group, inclusion probability proportional to weight — the grouped
    form of :func:`weighted_sample` (same Efraimidis–Spirakis
    ``u^(1/w)`` key, same md5 variate) with the global top-k swapped
    for a per-group rank window, so a stratified corpus can be
    down-weighted group-by-group in one pass.

    One shuffle on ``group_cols``; the window ranks only rows that
    survive the positive-weight filter. Ties break by ``id_col`` —
    a pure function of the data, reproducible across engines and
    partitionings.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use weighted_sample)")
    w = F.col(weight_col).cast("double")
    key = F.pow(hash_uniform(id_col, seed), F.lit(1.0) / w)
    win = Window.partitionBy(*[F.col(g) for g in group_cols]).orderBy(
        F.desc("__wkey"), F.asc(id_col),
    )
    return (
        df.filter(w > 0)
        .withColumn("__wkey", key)
        .withColumn("__wrn", F.row_number().over(win))
        .filter(F.col("__wrn") <= k)
        .drop("__wkey", "__wrn")
    )


def neyman_sample(
    df: DataFrame,
    strata_col: str,
    value_col: str,
    id_col: str,
    total_n: int,
    seed: str = "neyman",
    value_round: int = 6,
) -> tuple[DataFrame, DataFrame]:
    """Neyman-allocation stratified sampling (Neyman 1934): the
    optimal allocation of a fixed sample budget across strata,
    ``n_h ∝ N_h·S_h`` — strata that are big OR internally variable get
    more of the budget, minimizing the variance of the estimated mean
    at fixed ``total_n``. The survey-design counterpart of
    :func:`stratified_sample`'s fixed rates.

    Returns ``(allocation, sample)``: the allocation table
    ``(stratum, n_pop, stddev, n_alloc)`` and the EXACT-``n_h``
    deterministic sample (per-stratum ``n_alloc`` smallest
    ``hash_uniform`` variates — reproducible, partition-independent,
    and growth-stable like every sampler here).

    Replay contract: ``S_h`` derives from decimal-exact moments —
    ``value`` quantizes to ``value_round`` dp, Σx and Σx² accumulate
    in decimal, the variance is one closed-form division — so the
    allocation (and therefore the sampled id set) is engine-exact;
    ``stddev_samp`` itself is NOT used (cross-engine accumulation
    order differs in the last ulps). Rounding allocations may leave
    Σ n_h a few units off ``total_n`` (largest-remainder correction is
    deliberately omitted — it needs a global sort of the remainders;
    document the ±|strata| tolerance instead). Single-member/constant
    strata have S_h = 0 and draw nothing unless every stratum does
    (degenerate all-zero weights fall back to proportional N_h).

    Plan: one map-side-combined moments groupBy, a 1-row totals
    attach onto the |strata|-row table, one rank window per stratum
    for the exact-n draw — two shuffles total, nothing driver-side.
    """
    if total_n < 1:
        raise ValueError(f"total_n must be >= 1, got {total_n}")
    from pyspark.sql import Window

    x = F.round(F.col(value_col).cast("double"), value_round)
    d = lambda c: c.cast("decimal(38,12)")  # noqa: E731
    moments = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(strata_col).alias("stratum"))
        .agg(
            F.count(F.lit(1)).alias("n_pop"),
            F.sum(d(x)).alias("__sx"),
            F.sum(d(x * x)).alias("__sxx"),
        )
    )
    n = F.col("n_pop")
    var = F.when(
        n > 1,
        (
            F.col("__sxx").cast("double")
            - F.col("__sx").cast("double") * F.col("__sx").cast("double") / n
        )
        / (n - 1),
    ).otherwise(F.lit(0.0))
    # negative-zero / tiny negative residue from the closed form
    stddev = F.sqrt(F.greatest(var, F.lit(0.0)))
    weighted = moments.select(
        "stratum",
        "n_pop",
        F.round(stddev, 6).alias("stddev"),
        F.round(n * F.round(stddev, 6), 6).alias("__w"),
    )
    totals = weighted.agg(
        F.sum(F.col("__w").cast("decimal(38,6)")).alias("__tw"),
        F.sum("n_pop").alias("__tn"),
    )
    w_eff = F.when(
        F.col("__tw").cast("double") > 0, F.col("__w"),
    ).otherwise(n.cast("double"))
    t_eff = F.when(
        F.col("__tw").cast("double") > 0, F.col("__tw").cast("double"),
    ).otherwise(F.col("__tn").cast("double"))
    allocation = (
        weighted.crossJoin(totals)
        .select(
            "stratum",
            "n_pop",
            "stddev",
            F.least(
                F.round(F.lit(float(total_n)) * w_eff / t_eff, 0).cast("long"),
                n,
            ).alias("n_alloc"),
        )
        .transform(pin)  # consumed by caller AND the draw
    )
    u = hash_uniform(id_col, seed)
    w = Window.partitionBy(F.col(strata_col)).orderBy(
        u.asc(), F.col(id_col).asc(),
    )
    # draw from the same population the moments counted: a
    # NULL-measurement row must not consume budget the allocation
    # computed from measured rows only. The join is NULL-SAFE because
    # groupBy keeps a NULL stratum as a real group — a plain equi-join
    # would give it n_alloc > 0 yet silently draw 0 rows from it.
    sample = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("__rk__", F.row_number().over(w))
        .join(
            allocation.select(
                F.col("stratum").alias("__stratum__"), "n_alloc",
            ),
            F.col(strata_col).eqNullSafe(F.col("__stratum__")),
        )
        .filter(F.col("__rk__") <= F.col("n_alloc"))
        .drop("__rk__", "n_alloc", "__stratum__")
    )
    return allocation.orderBy("stratum"), sample
