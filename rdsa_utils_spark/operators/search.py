"""Keyword-search / term-weighting operators for corpus pipelines.

No reference equivalent (extension surface, SURVEY.md §0/§7): the
retrieval-side primitives a training-data platform needs next to
dedup and ANN — BM25 keyword scoring and per-document TF-IDF terms —
expressed entirely in native Spark SQL (JVM, codegen'd; no Python).

100 TB posture, shared by both operators:
- The corpus is tokenized and exploded ONCE; for BM25 the `isin`
  filter on the (tiny) query-term list is applied inside the same
  projection, so the explode output that reaches the shuffle is
  O(matching tokens), not O(all tokens).
- Per-(doc, term) term frequencies come from one hash aggregation on
  the exploded rows (map-side partial combine does most of the work:
  a term repeating inside one document collapses before the shuffle).
- Corpus-level scalars (N, avgdl) are computed by a single-row
  aggregate and attached via ``crossJoin`` — a one-row side the
  planner broadcasts without a hint, the scalar-subquery pattern used
  elsewhere in this engine (no driver-side collect in the plan).
- Document-frequency tables are aggregates over (term) — bounded by
  vocabulary (BM25: bounded by the query-term list, so broadcast).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.text import tokens
from rdsa_utils_spark.plans.tuning import pin


def _doc_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, dl): one row per token occurrence, lower-cased, with
    the document's token count attached in the same projection."""
    toks = F.transform(tokens(text_col), lambda t: F.lower(t))
    return df.select(
        F.col(id_col),
        F.size(toks).alias("__dl__"),
        F.explode(toks).alias("__term__"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-``k`` documents for a bag-of-words query.

    Returns (``id_col``, bm25) sorted by score descending with
    ``id_col`` as the unique tie-break, score rounded to 6 decimals
    (keeps the cross-engine hash stable: ``ln`` differs between libms
    only in the last ulp).

    IDF uses the standard smoothed form
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` — always positive, so
    ubiquitous terms rank low instead of negative.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = [t.lower() for t in query_terms]

    matches = _doc_terms(df, id_col, text_col).filter(F.col("__term__").isin(terms))
    # Pinned: the document-frequency aggregate below derives
    # from tf — without materialization Catalyst re-runs the whole
    # explode+aggregate subtree (a second full corpus scan). The
    # pinned frame is small (matching docs × query terms).
    tf = (
        matches.groupBy(id_col, "__term__")
        .agg(
            F.count("*").alias("__tf__"),
            F.first("__dl__").alias("__dl__"),
        )
        .transform(pin)
    )
    # Corpus scalars as a single row; term document frequencies
    # bounded by |query_terms| -> broadcast join.
    scalars = df.select(
        F.count("*").alias("__n_docs__"),
        F.avg(F.size(tokens(text_col))).alias("__avgdl__"),
    )
    dfreq = tf.groupBy("__term__").agg(F.count("*").alias("__df__"))

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n_docs__") - F.col("__df__") + 0.5) / (F.col("__df__") + 0.5),
    )
    norm_tf = (F.col("__tf__") * (k1 + 1)) / (
        F.col("__tf__") + k1 * (1 - b + b * F.col("__dl__") / F.col("__avgdl__"))
    )
    return (
        # broadcast: dfreq aggregates a pin, and a cluster pin's scan has no size statistic
        tf.join(F.broadcast(dfreq), "__term__")
        .crossJoin(scalars)
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * norm_tf), 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), id_col)
        .limit(k)
    )


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by TF-IDF.

    Returns (``id_col``, term, rank, tf_idf) with
    ``tf_idf = tf · (ln((N + 1) / (df + 1)) + 1)`` (smoothed,
    sklearn-style) rounded to 6 decimals; rank ties broken by term so
    row order is engine-independent.

    The document-frequency aggregate here is over the full vocabulary
    (not a fixed term list), so it shuffles on term — that shuffle is
    bounded by vocabulary size, which grows sub-linearly with corpus
    size; the join back to the (doc, term) frame re-uses the same term
    partitioning.
    """
    terms = _doc_terms(df, id_col, text_col)
    # Materialized for the same reason as in bm25_topk: dfreq reuses
    # tf, and without a pin the tokenize-explode-aggregate
    # subtree (a full corpus scan) runs twice.
    tf = (
        terms.groupBy(id_col, "__term__")
        .agg(F.count("*").alias("__tf__"))
        .transform(pin)
    )
    dfreq = tf.groupBy("__term__").agg(F.count("*").alias("__df__"))
    n_docs = df.select(F.count("*").alias("__n_docs__"))

    # Rank on the ROUNDED score: libm `ln` can differ across engines in
    # the last ulp, and ranking on the raw double would let a 1-ulp
    # near-tie order differently engine-to-engine. Rounding first turns
    # near-ties into exact ties, which the term tie-break then resolves
    # identically everywhere.
    tfidf = F.round(
        F.col("__tf__")
        * (F.log((F.col("__n_docs__") + 1.0) / (F.col("__df__") + 1.0)) + 1.0),
        6,
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__tfidf__").desc(),
        F.col("__term__"),
    )
    return (
        tf.join(dfreq, "__term__")
        .crossJoin(n_docs)
        .withColumn("__tfidf__", tfidf)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col,
            F.col("__term__").alias("term"),
            "rank",
            F.col("__tfidf__").alias("tf_idf"),
        )
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str,
    score_col: str = "score",
    group_cols: Sequence[str] = (),
    k: int = 60,
    top_n: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009): combine N
    heterogeneous rankings of the same id space into one —
    ``rrf_score = Σ_lists 1/(k + rank)`` — the standard way to merge
    keyword (BM25) and vector (cosine) retrieval without score
    calibration, since only RANKS enter the sum. Ids absent from a
    list simply contribute nothing (no penalty term).

    Each input frame needs (``group_cols``…, ``id_col``,
    ``score_col``); ranks are dense row numbers per group ordered
    (score desc, id asc) — the deterministic tie-break. Output:
    (``group_cols``…, ``id_col``, ``rrf_score`` rounded 6 dp,
    ``n_lists``), optionally cut to ``top_n`` per group.

    Plan: one window per input ranking (inputs are top-k frames —
    already k-sized per group), a union, and ONE aggregation on
    (group, id). The fusion math is rank-based integer arithmetic,
    so it replays exactly on any engine.
    """
    if not rankings:
        raise ValueError("rankings must be non-empty")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gcols = list(group_cols)
    # Ungrouped fusion ranks whole (top-k-sized) frames: partition on
    # a constant non-foldable key rather than an empty spec — same
    # single-partition execution, but WindowExec stops logging a "No
    # Partition Defined" warning per executed window (180/run under
    # bench for hybrid_search, loud enough to bury a REAL
    # unpartitioned-window warning in operator logs). The inputs are
    # already k-sized, so single-partition is the honest plan either
    # way. (F.lit(0) would be constant-folded out of the spec.)
    from rdsa_utils_spark.operators.windows import constant_partition_key

    pcols = gcols if gcols else [constant_partition_key(id_col)]
    parts = []
    for df in rankings:
        w = Window.partitionBy(*pcols).orderBy(
            F.col(score_col).desc(), F.col(id_col).asc(),
        )
        parts.append(
            df.select(*gcols, id_col, F.row_number().over(w).alias("__r")),
        )
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(*gcols, id_col).agg(
        (
            F.round(F.sum(F.lit(1.0) / (F.lit(k) + F.col("__r"))), 6)
            + F.lit(0.0)
        ).alias("rrf_score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    if top_n is not None:
        w = Window.partitionBy(*pcols).orderBy(
            F.col("rrf_score").desc(), F.col(id_col).asc(),
        )
        fused = (
            fused.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= top_n)
            .drop("__rn")
        )
    return fused
