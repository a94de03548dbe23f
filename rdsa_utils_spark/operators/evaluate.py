"""Model / retrieval / clustering evaluation metrics.

No reference equivalent (extension surface — the counterpart to the
training-side operators in ``operators/classify.py``,
``operators/search.py`` and ``operators/similarity.py``: once a
quality classifier, a retrieval stack, or a clustering exists, the
pipeline needs distributed, engine-replayable metrics to gate it).

Every metric here is a pure DataFrame aggregation with an exact
cross-engine contract:

- ``binary_auc`` — tie-aware Mann-Whitney AUC computed over the
  DISTINCT-SCORE aggregate, never over raw rows: the only window runs
  on |distinct scores| rows per group (a quantized classifier emits a
  bounded score alphabet), and the 2U statistic is assembled from
  integer counts in double products (exact below 2^53,
  ANSI-overflow-safe for multi-billion-row classes), so the result is
  order-independent.
- ``brier_score`` — the proper-scoring-rule scalar companion to the
  reliability table (``operators/classify.calibration_bins``);
  decimal-exact accumulation.
- ``ndcg_at_k`` — graded-relevance NDCG with per-row gains quantized
  before the sum (the established quantize-then-sum recipe for FP
  folds).
- ``mrr_at_k`` / ``map_at_k`` — binary-relevance MRR and MAP: rank
  joins against a broadcast deduplicated qrels frame,
  reciprocal-rank / precision terms quantized to 9 dp before the
  decimal-exact fold.
- ``cohens_kappa`` — inter-annotator agreement from the (group,
  rating-pair) contingency counts: integer marginal products up to
  one final double division (the LLM-judge / double-annotation gate).
- ``silhouette_simplified`` — per-cluster mean silhouette against
  cluster centroids (the scalable a/b variant: distance to OWN
  centroid vs nearest OTHER centroid — O(n·k) instead of O(n²)).

Scale posture at 100 TB: ``binary_auc`` shuffles once to the
(group, score) aggregate (map-side combined) and windows only the
tiny distinct-score table; ``brier_score`` is a single
map-side-combinable aggregation; ``ndcg_at_k`` windows
per query id (embarrassingly partitioned) and broadcasts nothing
bigger than the qrels for its join when qrels are dimension-sized;
``silhouette_simplified`` broadcasts the k-row centroid table and
touches the corpus exactly once.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _exact_avg(col: Column, alias: str, round_to: int = 6) -> Column:
    """Order-independent mean: exact decimal(38,12) sum → double →
    ``/ count`` → round (the repo-wide ``CAST(SUM(CAST(…)) AS
    DOUBLE) / COUNT(*)`` replay idiom)."""
    return F.round(
        F.sum(col.cast("decimal(38,12)")).cast("double") / F.count(col),
        round_to,
    ).alias(alias)


# --------------------------------------------------------------------------
# Binary classification: AUC, calibration, Brier
# --------------------------------------------------------------------------


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Tie-aware ROC AUC (Mann-Whitney U / (P·N)) per group.

    ``label_col`` must be boolean-like (cast to int 0/1); ``score_col``
    is any orderable numeric — quantize it upstream if the producer is
    FP-noisy (a 6-dp-rounded classifier probability keeps the distinct
    alphabet small AND the statistic reproducible).

    Algorithm: aggregate to one row per (group, distinct score) with
    positive/negative counts, then a cumulative window ORDERED BY
    SCORE over that aggregate. With ties averaged,

        U = Σ_s  pos_s · (cum_neg_below_s + neg_s / 2)

    computed as ``2U = Σ pos_s · (2·cum_below + neg_s)`` in pure
    integers, so the division at the end is the only FP step:
    ``auc = 2U / (2·P·N)``.

    Shuffle shape: ONE shuffle to (group, score) counts (map-side
    combined — raw rows never move twice), a window over the distinct
    scores of each group, and a final per-group aggregate. With
    ``by=None`` the window is global but still only |distinct scores|
    rows — document the score alphabet, not the row count, as the
    bound.

    Rows with a NULL score or NULL label are excluded (a NULL score
    has no rank; sorting it below every real score would silently
    bias the statistic). Returns one row per group: ``by… , n_pos,
    n_neg, auc`` (auc NULL when a group lacks both classes).
    """
    by = list(by or [])
    lab = F.col(label_col).cast("int")
    g = (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .groupBy(*by, F.col(score_col).alias("__score__"))
        .agg(
            F.sum(lab).alias("__pos__"),
            F.sum(1 - lab).alias("__neg__"),
        )
    )
    w = (
        Window.partitionBy(*[F.col(c) for c in by])
        .orderBy("__score__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # 2U in DOUBLE: pos·neg products overflow long (ANSI: throws) for
    # multi-billion-row classes; doubles stay exact below 2^53 and
    # deterministic past it — same rationale as drift.ks_2sample.
    contrib = g.withColumn(
        "__below__", F.coalesce(F.sum("__neg__").over(w), F.lit(0))
    ).withColumn(
        "__u2__",
        F.col("__pos__").cast("double")
        * (
            F.lit(2.0) * F.col("__below__").cast("double")
            + F.col("__neg__").cast("double")
        ),
    )
    out = contrib.groupBy(*by).agg(
        F.sum("__pos__").alias("n_pos"),
        F.sum("__neg__").alias("n_neg"),
        F.sum("__u2__").alias("__u2t__"),
    )
    return out.select(
        *by,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                F.col("__u2t__") / (2.0 * F.col("n_pos") * F.col("n_neg")),
                round_to,
            ),
        ).alias("auc"),
    )


def brier_score(
    df: DataFrame,
    score_col: str,
    label_col: str,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Mean squared error of the predicted probability — the proper
    scoring rule companion to :func:`calibration_bins`.

    Per-row ``(score − label)²`` is quantized to 12 dp and summed in
    decimal (quantize-then-sum — exact, order-independent). Rows with
    a NULL score or label are excluded (matching ``binary_auc`` /
    ``ks_2sample``), so ``n`` is exactly the mean's denominator.
    Returns ``by… , n, brier``.
    """
    by = list(by or [])
    lab = F.col(label_col).cast("int").cast("double")
    err2 = F.round(
        (F.col(score_col).cast("double") - lab)
        * (F.col(score_col).cast("double") - lab),
        12,
    )
    return (
        df.filter(F.col(score_col).isNotNull() & F.col(label_col).isNotNull())
        .select(*by, err2.alias("__e2__"))
        .groupBy(*by)
        .agg(F.count("*").alias("n"), _exact_avg(F.col("__e2__"), "brier", round_to))
    )


# --------------------------------------------------------------------------
# Retrieval: NDCG@k
# --------------------------------------------------------------------------


def ndcg_at_k(
    runs: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    round_to: int = 6,
) -> DataFrame:
    """Graded-relevance NDCG@k per query.

    ``runs``: one row per (query, doc) with an explicit 1-based
    ``rank_col`` (make the producer emit a deterministic rank — every
    retrieval operator in this engine already tie-breaks on the doc
    id). ``qrels``: (query, doc, graded relevance ≥ 0); pairs absent
    from qrels count as relevance 0.

    DCG uses the burges gain ``(2^rel − 1) / log2(rank + 1)``; IDCG
    re-ranks each query's qrels by (rel DESC, doc ASC) and applies the
    same discount to the top ``k``. Per-row gains are rounded to 9 dp
    before a decimal-exact sum (quantize-then-sum): ``log2`` of an
    integer ≥ 3 is irrational, so gains never sit on the half-quantum
    boundary and both engines round identically.

    Windows partition by query id — embarrassingly parallel; the
    qrels side of the join is broadcast (qrels are dimension-sized in
    every evaluation pipeline).

    Returns ``query_col, dcg, idcg, ndcg`` (ndcg 0.0 when a query has
    no relevant documents).
    """
    if k < 1:
        raise ValueError("k must be >= 1")

    def _gain(rel: Column, rank: Column) -> Column:
        return F.round(
            (F.pow(F.lit(2.0), rel.cast("double")) - 1.0)
            / F.log2(rank.cast("double") + 1.0),
            9,
        ).cast("decimal(38,9)")

    # Deduplicate qrels by (query, doc), keeping the max grade:
    # multi-annotator qrels files carry duplicate pairs, and a raw
    # duplicate would both fan out the run join (double-counted DCG)
    # and occupy two ideal-ranking slots (corrupted IDCG) — the same
    # guard mrr_at_k/map_at_k apply via .distinct().
    qr = (
        qrels.select(
            F.col(query_col).alias("__q__"),
            F.col(doc_col).alias("__d__"),
            F.col(rel_col).alias("__rel__"),
        )
        .groupBy("__q__", "__d__")
        .agg(F.max("__rel__").alias("__rel__"))
    )
    hits = (
        runs.filter(F.col(rank_col) <= k)
        .join(
            # broadcast: Catalyst cannot size qrels built from driver rows (an RDD scan)
            F.broadcast(qr),
            (F.col(query_col) == F.col("__q__"))
            & (F.col(doc_col) == F.col("__d__")),
            "left",
        )
        .select(
            F.col(query_col).alias("__qq__"),
            _gain(
                F.coalesce(F.col("__rel__"), F.lit(0)), F.col(rank_col)
            ).alias("__g__"),
        )
    )
    dcg = hits.groupBy(F.col("__qq__").alias(query_col)).agg(
        F.sum("__g__").cast("double").alias("dcg")
    )

    iw = Window.partitionBy("__q__").orderBy(F.col("__rel__").desc(), F.col("__d__"))
    ideal = (
        qr.filter(F.col("__rel__") > 0)
        .withColumn("__irk__", F.row_number().over(iw))
        .filter(F.col("__irk__") <= k)
        .select("__q__", _gain(F.col("__rel__"), F.col("__irk__")).alias("__g__"))
        .groupBy(F.col("__q__").alias(query_col))
        .agg(F.sum("__g__").cast("double").alias("idcg"))
    )

    joined = dcg.join(ideal, query_col, "left")
    return joined.select(
        query_col,
        F.round("dcg", round_to).alias("dcg"),
        F.round(F.coalesce(F.col("idcg"), F.lit(0.0)), round_to).alias("idcg"),
        F.when(F.coalesce(F.col("idcg"), F.lit(0.0)) > 0, F.round(F.col("dcg") / F.col("idcg"), round_to))
        .otherwise(F.lit(0.0))
        .alias("ndcg"),
    )


def _filter_relevant(qrels: DataFrame, rel_col: str) -> DataFrame:
    """Binary-relevance qrels filter for MRR/MAP@k: keep rows with
    ``rel_col > 0``. A qrels frame WITHOUT the default ``rel`` column
    is the documented all-relevant binary form; but a user-NAMED grade
    column that doesn't exist is a typo — fail loudly instead of
    silently counting every judged pair as relevant."""
    cols_lower = {c.lower() for c in qrels.columns}
    if rel_col.lower() in cols_lower:
        return qrels.filter(F.col(rel_col) > 0)
    if rel_col != "rel":
        raise ValueError(
            f"rel_col {rel_col!r} not found in qrels columns {qrels.columns}",
        )
    return qrels


def mrr_at_k(
    runs: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    round_to: int = 6,
) -> DataFrame:
    """Mean Reciprocal Rank @ k over all queries (binary relevance:
    any qrels row with positive relevance counts as relevant; queries
    with no relevant doc in the top ``k`` contribute 0).

    Returns a single row ``n_queries, mrr``. Reciprocal ranks are
    exact dyadic-free rationals 1/r — rounded to 9 dp per query before
    the decimal-exact mean, so the scalar replays cross-engine.

    ``n_queries`` counts DISTINCT query ids present in ``runs`` —
    queries the ranker returned nothing for are invisible to it, by
    construction; feed an explicit empty-run row if they must count.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    qr = _filter_relevant(qrels, rel_col)
    qr = qr.select(
        F.col(query_col).alias("__q__"), F.col(doc_col).alias("__d__")
    ).distinct()
    first_rel = (
        runs.filter(F.col(rank_col) <= k)
        .join(
            # broadcast: Catalyst cannot size qrels built from driver rows (an RDD scan)
            F.broadcast(qr),
            (F.col(query_col) == F.col("__q__"))
            & (F.col(doc_col) == F.col("__d__")),
            "left_semi",
        )
        .groupBy(query_col)
        .agg(F.min(rank_col).alias("__r1__"))
    )
    per_q = (
        runs.select(query_col)
        .distinct()
        .join(first_rel, query_col, "left")
        .select(
            F.round(
                F.coalesce(1.0 / F.col("__r1__"), F.lit(0.0)), 9
            ).alias("__rr__"),
        )
    )
    return per_q.agg(
        F.count("*").alias("n_queries"), _exact_avg(F.col("__rr__"), "mrr", round_to)
    )


def map_at_k(
    runs: DataFrame,
    qrels: DataFrame,
    k: int,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    round_to: int = 6,
) -> DataFrame:
    """Mean Average Precision @ k (binary relevance), one row per
    query: ``AP = (Σ_{hit at rank r} precision@r) / min(|rel|, k)``.

    Precision@r terms are rationals hits/r — each rounded to 9 dp,
    then a decimal-exact per-query sum and one final division.
    Windows partition per query (embarrassingly parallel); qrels
    broadcast. Returns ``query_col, n_rel, ap`` (queries
    with no relevant docs get ap = 0.0).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    qr = _filter_relevant(qrels, rel_col)
    qr = qr.select(
        F.col(query_col).alias("__q__"), F.col(doc_col).alias("__d__")
    ).distinct()
    marked = (
        runs.filter(F.col(rank_col) <= k)
        .join(
            # broadcast: Catalyst cannot size qrels built from driver rows (an RDD scan)
            F.broadcast(qr),
            (F.col(query_col) == F.col("__q__"))
            & (F.col(doc_col) == F.col("__d__")),
            "left",
        )
        .select(
            F.col(query_col).alias("__qq__"),
            F.col(rank_col).alias("__rk__"),
            F.col("__d__").isNotNull().cast("int").alias("__hit__"),
        )
    )
    w = (
        Window.partitionBy("__qq__")
        .orderBy("__rk__")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ap = (
        marked.withColumn("__cum__", F.sum("__hit__").over(w))
        .withColumn(
            "__p__",
            F.when(
                F.col("__hit__") == 1,
                F.round(F.col("__cum__") / F.col("__rk__").cast("double"), 9),
            ).otherwise(F.lit(0.0)),
        )
        .groupBy(F.col("__qq__").alias(query_col))
        .agg(F.sum(F.col("__p__").cast("decimal(38,12)")).alias("__sp__"))
    )
    nrel = qr.groupBy(F.col("__q__").alias(query_col)).agg(
        F.count("*").alias("n_rel")
    )
    return (
        ap.join(nrel, query_col, "left")
        .select(
            query_col,
            F.coalesce(F.col("n_rel"), F.lit(0)).alias("n_rel"),
            F.when(
                F.coalesce(F.col("n_rel"), F.lit(0)) > 0,
                F.round(
                    F.col("__sp__").cast("double")
                    / F.least(F.col("n_rel"), F.lit(k)).cast("double"),
                    round_to,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("ap"),
        )
    )


def cohens_kappa(
    df: DataFrame,
    rater1_col: str,
    rater2_col: str,
    by: list[str] | None = None,
    round_to: int | None = 6,
    include_rates: bool = False,
) -> DataFrame:
    """Cohen's kappa inter-annotator agreement per group — the gate
    statistic for LLM-judge / human-label double-annotation runs
    before a label set is trusted for classifier training.

    With per-category contingency counts n_{ij}, row marginals r_i,
    column marginals c_j and total n:

        kappa = (n·Σ n_kk − Σ r_k·c_k) / (n² − Σ r_k·c_k)

    — integers all the way to one final division (rows where either
    rating is NULL are excluded; a degenerate group where the
    marginals fully determine agreement, n² = Σ r·c, returns NULL).

    One shuffle to (group, rating-pair) counts, then |categories|²-row
    arithmetic per group. Returns ``by… , n, kappa`` — plus ``po``
    (observed agreement rate) and ``pe`` (chance agreement rate)
    before ``kappa`` when ``include_rates`` is set. This is the one
    canonical kappa in the engine; ``operators/stats.cohens_kappa``
    is a façade over it.
    """
    by = list(by or [])
    # Rating equality must follow the column types: two numeric rater
    # columns compare numerically (int 1 == double 1.0), same-typed
    # columns compare raw; only genuinely mixed non-numeric pairs fall
    # back to the string cast.
    from pyspark.sql.types import NumericType

    from rdsa_utils_spark.functions.columns import resolve_field_type

    t1 = resolve_field_type(df, rater1_col)
    t2 = resolve_field_type(df, rater2_col)
    if isinstance(t1, NumericType) and isinstance(t2, NumericType):
        r1, r2 = F.col(rater1_col).cast("double"), F.col(rater2_col).cast("double")
    elif t1 == t2:
        r1, r2 = F.col(rater1_col), F.col(rater2_col)
    else:
        r1, r2 = F.col(rater1_col).cast("string"), F.col(rater2_col).cast("string")
    g = (
        df.filter(F.col(rater1_col).isNotNull() & F.col(rater2_col).isNotNull())
        .groupBy(
            *by,
            r1.alias("__r1__"),
            r2.alias("__r2__"),
        )
        .agg(F.count("*").alias("__m__"))
    )
    agg = g.groupBy(*by).agg(
        F.sum("__m__").alias("n"),
        F.sum(
            F.when(F.col("__r1__") == F.col("__r2__"), F.col("__m__")).otherwise(0)
        ).alias("__agree__"),
    )
    r1m = g.groupBy(*by, F.col("__r1__").alias("__k__")).agg(
        F.sum("__m__").alias("__r__")
    )
    r2m = g.groupBy(*by, F.col("__r2__").alias("__k__")).agg(
        F.sum("__m__").alias("__c__")
    )
    rc = (
        r1m.join(r2m, [*by, "__k__"], "full")
        .select(
            *by,
            (
                F.coalesce(F.col("__r__"), F.lit(0))
                * F.coalesce(F.col("__c__"), F.lit(0))
            ).alias("__rc__"),
        )
        .groupBy(*by)
        .agg(F.sum("__rc__").alias("__src__"))
    )
    out = agg.join(rc, by) if by else agg.crossJoin(rc)
    # Products in double: exact below 2^53 and ANSI-overflow-safe; the
    # oracle mirrors the identical expression shape.
    nd = F.col("n").cast("double")
    srcd = F.col("__src__").cast("double")
    def _mr(c):
        return F.round(c, round_to) if round_to is not None else c

    rates = (
        [
            _mr(F.col("__agree__").cast("double") / nd).alias("po"),
            _mr(srcd / (nd * nd)).alias("pe"),
        ]
        if include_rates
        else []
    )
    return out.select(
        *by,
        "n",
        *rates,
        F.when(
            nd * nd != srcd,
            _mr(
                (nd * F.col("__agree__").cast("double") - srcd) / (nd * nd - srcd),
            ),
        ).alias("kappa"),
    )


# --------------------------------------------------------------------------
# Clustering: simplified silhouette
# --------------------------------------------------------------------------


def silhouette_simplified(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    cluster_col: str,
    moment_round: int = 9,
    round_to: int = 6,
) -> DataFrame:
    """Per-cluster mean simplified silhouette.

    The simplified silhouette replaces mean pairwise distances with
    centroid distances: per row, ``a`` = Euclidean distance to the OWN
    cluster centroid, ``b`` = min distance to any OTHER centroid,
    ``s = (b − a) / max(a, b)`` (0.0 for a degenerate single-cluster
    input). O(n·k) — the only formulation that survives 100 TB; the
    O(n²) exact silhouette is not offered.

    Shuffle shape: centroids via ``posexplode`` → (cluster, pos) mean
    (map-side combined, rounded to ``moment_round`` for cross-engine
    replay — same recipe as ``label_centroid_similarity``,
    operators/similarity.py) → k-row centroid table broadcast back —
    the corpus is scanned once for moments and once for scoring.
    Per-row ``s`` quantizes to 6 dp before the decimal-exact per-
    cluster mean (quantize-then-sum); distances to DISTINCT centroids
    can never tie at the half-quantum (coordinates differ in ≥ 1
    dimension ⇒ the sums differ by ≥ a full quantum of the squared
    grid), so the rounding is engine-stable.

    Returns ``cluster, n, mean_silhouette`` sorted by cluster.
    """
    e = df.select(
        F.col(cluster_col).alias("__cl__"),
        F.posexplode(F.col(vec_col)).alias("__pos", "__x"),
    )
    cents = (
        e.groupBy("__cl__", "__pos")
        .agg(F.round(F.avg("__x"), moment_round).alias("__mu"))
        .groupBy("__cl__")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__mu"))),
                lambda s: s["__mu"],
            ).alias("__c"),
        )
    )

    def _dist2(v: Column, c: Column) -> Column:
        return F.aggregate(
            F.zip_with(v, c, lambda x, m: (x - m) * (x - m)),
            F.lit(0.0),
            lambda acc, d: acc + d,
        )

    rows = df.select(
        F.col(id_col).alias("__id__"),
        F.col(cluster_col).alias("__rcl__"),
        F.col(vec_col).alias("__v__"),
    )
    scored = (
        rows.join(cents)
        .withColumn("__d__", F.sqrt(_dist2(F.col("__v__"), F.col("__c"))))
        .groupBy("__id__", "__rcl__")
        .agg(
            F.min(F.when(F.col("__cl__") == F.col("__rcl__"), F.col("__d__"))).alias(
                "__a__"
            ),
            F.min(F.when(F.col("__cl__") != F.col("__rcl__"), F.col("__d__"))).alias(
                "__b__"
            ),
        )
    )
    s = scored.withColumn(
        "__s__",
        F.when(
            F.col("__b__").isNull() | (F.greatest("__a__", "__b__") == 0.0),
            F.lit(0.0),
        ).otherwise(
            F.round(
                (F.col("__b__") - F.col("__a__")) / F.greatest("__a__", "__b__"),
                round_to,
            )
        ),
    )
    return (
        s.groupBy(F.col("__rcl__").alias("cluster"))
        .agg(F.count("*").alias("n"), _exact_avg(F.col("__s__"), "mean_silhouette", round_to))
        .orderBy("cluster")
    )


def rbo_at_k(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int,
    p: float = 0.9,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    round_to: int = 6,
) -> DataFrame:
    """Rank-biased overlap truncated at depth ``k`` (Webber, Moffat &
    Zobel 2010, §4.1 eq. 4) between two rankings of the same id space
    — the standard "did my retriever/index change its results"
    monitor: top-weighted (depth ``d`` weighted ``p^(d-1)``), defined
    on non-conjoint lists, no relevance judgments needed. RBO@k = 1
    means identical prefixes, 0 means disjoint.

    Rewritten for one pass instead of per-depth set intersections:
    ``RBO@k = (1-p) Σ_d p^(d-1)·|A∩B|@d / d`` regroups per COMMON
    document as ``(1-p) Σ_docs g(max(rank_a, rank_b))`` with
    ``g(m) = Σ_{d=m}^{k} p^(d-1)/d`` — so the whole computation is one
    equi-join on (query, doc), one ``element_at`` into the k-entry
    literal ``g`` table, and one aggregation. ``g`` entries are
    quantized to 12 dp and summed in decimal (quantize-then-sum), so
    the score is engine-exact. Queries present in ``run_a`` with no
    common docs in the top-``k`` report 0.0.

    100 TB posture: rankings are top-``k`` per query (k·|queries|
    rows); everything here is linear in that, one shuffle on the
    (query, doc) join key.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 < p < 1.0):
        raise ValueError(f"p must be in (0, 1), got {p}")
    # g(m) = sum_{d=m..k} p^(d-1)/d, exact-literal shared with oracles.
    weights = rbo_depth_weights(k, p)
    ta = run_a.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q__"),
        F.col(doc_col).alias("__d__"),
        F.col(rank_col).alias("__ra__"),
    )
    tb = run_b.filter(F.col(rank_col) <= k).select(
        F.col(query_col).alias("__q__"),
        F.col(doc_col).alias("__d__"),
        F.col(rank_col).alias("__rb__"),
    )
    common = ta.join(tb, ["__q__", "__d__"]).select(
        "__q__",
        F.element_at(
            F.lit(weights),
            F.greatest("__ra__", "__rb__").cast("int"),
        ).alias("__g__"),
    )
    per_q = common.groupBy("__q__").agg(
        F.sum(F.col("__g__").cast("decimal(38,12)")).alias("__s__"),
    )
    queries = run_a.select(F.col(query_col).alias("__q__")).distinct()
    return (
        queries.join(per_q, "__q__", "left")
        .select(
            F.col("__q__").alias(query_col),
            F.round(
                F.coalesce(F.col("__s__").cast("double"), F.lit(0.0))
                * F.lit(1.0 - p),
                round_to,
            ).alias("rbo"),
        )
        .orderBy(query_col)
    )


def rbo_depth_weights(k: int, p: float) -> list[float]:
    """The ``g(m) = Σ_{d=m}^{k} p^(d-1)/d`` suffix sums behind
    :func:`rbo_at_k`, quantized to 12 dp — exposed so an external
    replayer (the DuckDB oracle) can inline the IDENTICAL literals
    instead of re-deriving floating-point sums in a different order."""
    raw = [p ** (d - 1) / d for d in range(1, k + 1)]
    suffix = []
    acc = 0.0
    for v in reversed(raw):
        acc += v
        suffix.append(acc)
    return [round(v, 12) for v in reversed(suffix)]


def pass_at_k(
    df: DataFrame,
    task_col: str,
    pass_col: str,
    ks: Sequence[int] = (1, 10),
    round_to: int = 6,
) -> DataFrame:
    """Unbiased pass@k (Chen et al. 2021, Codex paper eq. 1) per task
    from n sampled attempts with c successes:
    ``pass@k = 1 − C(n−c, k)/C(n−c+...)= 1 − Π_{i=0}^{k−1} (n−c−i)/(n−i)``
    — the standard functional-correctness metric for code/answer
    sampling evals, numerically stable in the product form (never
    forms the huge binomials).

    One map-side-combined groupBy per call (n and c per task), then a
    pure-expression fold over ``k`` terms per requested k: each ratio's
    natural log is quantized to 12 dp, decimal-summed (order-exact),
    exponentiated once and rounded — so the metric replays bit-for-bit
    in ANSI SQL. Tasks with fewer than ``k`` attempts report NULL for
    that k (the estimator requires n ≥ k); c ≥ n−k+1 short-circuits to
    exactly 1.0 (some term hits zero). ``pass_col`` is any 0/1 or
    boolean column; NULL attempts are excluded.

    Returns ``(task, n, c, pass_at_<k>…)`` one row per task — feed it
    to a plain ``avg`` for the corpus-level number.
    """
    ks = list(ks)
    if not ks or any(k < 1 for k in ks):
        raise ValueError(f"ks must be non-empty positive ints, got {ks}")
    y = F.col(pass_col).cast("int").cast("double")
    base = (
        df.filter(F.col(pass_col).isNotNull())
        .groupBy(F.col(task_col).alias("task"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y).cast("long").alias("c"),
        )
    )
    n, c = F.col("n"), F.col("c")
    cols = []
    for k in ks:
        terms = F.transform(
            F.sequence(F.lit(0), F.lit(k - 1)),
            # ratio <= 0 only in the short-circuited c >= n-k+1 branch;
            # guard anyway so log never sees a non-positive argument
            lambda i: F.when(
                (n - c - i) > 0,
                F.round(
                    F.log((n - c - i).cast("double") / (n - i).cast("double")),
                    12,
                ),
            )
            .otherwise(F.lit(0.0))
            .cast("decimal(25,12)"),
        )
        # (25,12)+(25,12) adds at (26,12) — full 12-dp scale, no
        # precision capping (at (38,12) Spark caps the add to scale 11,
        # HALF_UP-rounding the running sum EVERY step and breaking the
        # bit-exact oracle replay); the re-cast keeps the fold's type.
        # |ln terms| < 60 each, k terms: precision 25 is ample.
        ln_sum = F.aggregate(
            terms,
            F.lit(0).cast("decimal(25,12)"),
            lambda acc, v: (acc + v).cast("decimal(25,12)"),
        )
        val = F.when(n < k, F.lit(None).cast("double")).otherwise(
            F.when(c >= n - k + 1, F.lit(1.0)).otherwise(
                F.round(F.lit(1.0) - F.exp(ln_sum.cast("double")), round_to),
            ),
        )
        cols.append(val.alias(f"pass_at_{k}"))
    return base.select("task", "n", "c", *cols).orderBy("task")
