"""Similarity search over embedding columns (array<float>).

No reference equivalent (extension surface). Two tiers:

- ``brute_force_topk`` — exact cosine top-k: broadcast the (small)
  query set against the candidate corpus; dot products via
  ``F.zip_with`` + ``F.aggregate`` (JVM higher-order functions — no
  Python), norms precomputed per side so each pair costs ONE dot
  product, top-k per query via one window. At 100 TB the corpus side
  streams; only the query side must fit in a broadcast.
- ``lsh_bucketed_topk`` — the scale path: random-hyperplane LSH signs
  each vector into one bucket per table; candidates are scored only
  within matching buckets. Bucketing runs as ONE Arrow-vectorized
  pandas UDF per side (a single numpy matmul against the
  (dim × tables·bits) plane matrix), not per-plane expressions.
  Recall < 1 by design; raise ``num_tables`` for recall.
- ``cosine_near_dup_pairs`` — embedding near-dup (cosine ≥ threshold)
  via the same bucketing, for dedup pipelines.

Hyperplanes come from a seeded NumPy RNG on the driver, closed over
by the UDF — deterministic across runs and executors.
"""

from __future__ import annotations

import hashlib
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin


#: Default cap on the bytes a rescoring path may gather to the driver
#: and broadcast (the float64 id→vector matrix). 512 MiB ≈ 87k rows at
#: 768 dims — past this the shuffle-safe join-attach plan is used.
DEFAULT_MAX_BROADCAST_BYTES = 512 * 1024 * 1024

#: Bucket-occupancy target for auto-derived LSH depth. 16 rows/bucket
#: keeps self-join candidate volume ≈ num_tables · N · 16 / 2 — linear
#: in corpus size — while staying coarse enough that high-threshold
#: near-dups (the dedup-pipeline case) still collide: at cos ≥ 0.9 a
#: 10-bit table collides with p ≈ 0.86^10 ≈ 0.21, so 32 tables give
#: ≈ 0.9995 pair recall.
AUTO_BITS_TARGET_ROWS = 16


def auto_lsh_bits(
    n_rows: int,
    target_rows_per_bucket: int = AUTO_BITS_TARGET_ROWS,
    min_bits: int = 5,
    max_bits: int = 20,
) -> int:
    """LSH depth that holds per-bucket occupancy ~constant as the
    corpus grows: ``round(log2(n / target))`` clamped to
    [min_bits, max_bits]. With fixed ``bits`` a bucketed SELF-join is
    quadratic in N (measured: the round-5 scale probe put the pinned
    bits=5 `embedding_near_dups` config at exponent 1.67, 137 s at
    sf1); with occupancy-constant depth the candidate volume — and the
    probe-measured runtime — grows linearly. Deeper tables lower
    per-table collision probability, so LOW-threshold mining
    (cos < ~0.5) should pin ``bits`` explicitly or raise
    ``num_tables``; at production dedup thresholds (≥0.9) recall holds
    (see AUTO_BITS_TARGET_ROWS note).
    """
    import math

    raw = round(math.log2(max(n_rows, 1) / target_rows_per_bucket))
    return max(min_bits, min(max_bits, raw))


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst plan-statistics size estimate for ``df`` — read from the
    optimized logical plan, so no job runs. For parquet scans this is
    the (compressed) file footprint of the referenced columns; float
    vector payloads compress poorly, so it tracks the in-memory matrix
    size within a small factor. Returns None when stats are
    unavailable."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # pragma: no cover - py4j edge
        return None
    # Catalyst signals "unknown" with a huge sentinel (conf default
    # spark.sql.defaultSizeInBytes = Long.MaxValue); treat it as None
    # so the caller falls back to the scale-safe path.
    if size <= 0 or size >= (1 << 62):
        return None
    return size


def _fits_broadcast(max_broadcast_bytes: int, *frames: DataFrame) -> bool:
    """Decide whether the frames' vector payloads may be gathered on
    the driver together and broadcast.

    Mirrors Spark's own broadcast-join decision: a BYTES budget checked
    against Catalyst plan statistics (no eager scan). The budget caps
    the COMBINED gather, so estimates are summed; the sum is doubled as
    a safety factor (compressed-on-disk → float64-in-memory). Unknown
    statistics fail the guard — the shuffle-safe path is always
    correct, just slower.
    """
    ests = [_plan_size_bytes(f) for f in frames]
    return None not in ests and 2 * sum(ests) <= max_broadcast_bytes


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision (deterministic left fold)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns (double)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def normalize_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str | None = None,
) -> DataFrame:
    """L2-normalize an embedding column to unit vectors (double
    elements); zero vectors pass through unchanged rather than NaN.

    Pre-normalizing turns every downstream cosine into a plain dot
    product — at 100 TB that halves the arithmetic of brute-force
    rescoring and lets quantized/int8 pipelines skip per-pair norms.
    Narrow projection: no shuffle, no Python.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    n = _norm(F.col(vec_col))
    unit = F.when(n == 0, v).otherwise(F.transform(v, lambda x: x / n))
    return df.withColumn(out_col or vec_col, unit)


def quantize_int8(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "q",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x|/127``,
    ``q_i = floor(x_i/scale + 0.5)`` (explicit half-up — identical
    across engines, unlike bankers'-rounding variance in ``round``).
    Zero vectors quantize to zeros with scale 0.

    4× (vs float32) / 8× (vs float64) smaller shuffle and storage
    footprint for ANN candidate generation; dequantize as ``q·scale``.
    |q_i| ≤ 127 by construction (the max-magnitude element maps to
    exactly ±127), so the values fit int8 storage without clipping.
    Narrow projection: no shuffle, no Python.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    q = F.when(
        scale == 0, F.transform(v, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")),
    )
    return df.withColumn(q_col, q).withColumn(scale_col, scale)


def _cosine_vec(a: Column, b: Column) -> Column:
    """Arrow-vectorized cosine — one numpy pass per batch. Used on the
    approximate (rows-only) paths; the oracle-checked exact path keeps
    the deterministic left-fold expression so float association order
    matches ANSI-SQL engines. (UDF built lazily: ``pandas_udf`` needs
    an active session to parse its return type.)"""

    @F.pandas_udf("double")
    def _udf(aa: pd.Series, bb: pd.Series) -> pd.Series:
        am = np.stack(aa.to_numpy()).astype(np.float64)
        bm = np.stack(bb.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", am, bm)
        na = np.maximum(np.linalg.norm(am, axis=1), 1e-12)
        nb = np.maximum(np.linalg.norm(bm, axis=1), 1e-12)
        return pd.Series(dots / (na * nb))

    return _udf(a, b)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("candidate_id").asc(),
    )
    return (
        scored.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k of ``corpus`` rows for each query row.

    Plan: broadcast-nested-loop of the SMALL query frame against the
    corpus (corpus never shuffles for the scoring pass), then one
    window shuffle on query_id for the top-k. Output:
    (query_id, candidate_id, cosine) with deterministic tie-break on
    candidate id.
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv__"),
        _norm(F.col(query_vec)).alias("__qn__"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("candidate_id"),
        F.col(corpus_vec).alias("__cv__"),
        _norm(F.col(corpus_vec)).alias("__cn__"),
    )
    pre = (
        F.col("candidate_id") != F.col("query_id") if exclude_self else None
    )
    return _broadcast_cosine_topk(
        c, q, k, ["query_id", "candidate_id"], pre_filter=pre,
    )


def _broadcast_cosine_topk(c, q, k, out_cols, pre_filter=None):
    """Shared exact-scoring core: crossJoin(q), whose small query side
    the planner broadcasts → optional predicate BEFORE the top-k (so
    survivors are the global winners, not a post-filtered top-k) →
    deterministic left-fold cosine → per-query top-k. ``c``/``q`` are projections carrying
    ``__cv__/__cn__`` and ``__qv__/__qn__`` plus the named
    ``out_cols``; one implementation serves brute_force_topk,
    hard_negative_topk and label_noise_scores so a scoring fix (e.g.
    a zero-norm guard) lands everywhere at once."""
    joined = c.crossJoin(q)
    if pre_filter is not None:
        joined = joined.filter(pre_filter)
    scored = joined.select(
        *out_cols,
        (
            _dot(F.col("__qv__"), F.col("__cv__"))
            / (F.col("__qn__") * F.col("__cn__"))
        ).alias("cosine"),
    )
    return _topk_per_query(scored, k)


def _md5_planes(dim: int, bits: int, num_tables: int, seed: int) -> np.ndarray:
    """Deterministic ±1 (Rademacher) hyperplane matrix derived from
    md5 — sign LSH with Rademacher projections has the same collision
    guarantee as Gaussian planes, and any ANSI-SQL engine with ``md5``
    can regenerate the exact matrix, making the whole bucketing
    pipeline oracle-replayable bit-for-bit.

    Entry (d, t·bits + b) is +1 when the first hex digit of
    ``md5("{seed}:{t}:{b}:{d}")`` is in 0–7 (top bit clear), else −1
    — in SQL: ``substr(md5(k),1,1) BETWEEN '0' AND '7'``.
    """
    planes = np.empty((dim, num_tables * bits), dtype=np.float64)
    for t in range(num_tables):
        for b in range(bits):
            col = t * bits + b
            for d in range(dim):
                h = hashlib.md5(f"{seed}:{t}:{b}:{d}".encode()).hexdigest()
                planes[d, col] = 1.0 if h[0] in "01234567" else -1.0
    return planes


def _bucket_udf(
    dim: int, bits: int, num_tables: int, seed: int,
    plane_method: str = "gaussian",
):
    """Pandas UDF: embedding → array of ``num_tables`` bucket ids.

    One numpy matmul per Arrow batch against the (dim, tables·bits)
    hyperplane matrix; sign bits pack into per-table integers.
    ``plane_method="md5"`` swaps the Gaussian planes for the
    md5-derived Rademacher matrix (see :func:`_md5_planes`) so an
    external SQL oracle can replay the exact buckets.
    """
    if plane_method == "md5":
        planes = _md5_planes(dim, bits, num_tables, seed)
    else:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((dim, num_tables * bits))
    weights = (1 << np.arange(bits, dtype=np.int64))  # bit → integer

    @F.pandas_udf("array<long>")
    def bucketize(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (n, dim), float32 ok
        signs = (mat.astype(np.float64) @ planes) >= 0  # (n, tables·bits)
        signs = signs.reshape(len(mat), num_tables, bits)
        buckets = (signs * weights).sum(axis=2)  # (n, tables)
        return pd.Series(list(buckets))

    return bucketize


def _with_buckets(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    dim: int,
    bits: int,
    num_tables: int,
    seed: int,
    keep_vec: bool = True,
    plane_method: str = "gaussian",
) -> DataFrame:
    bucketize = _bucket_udf(dim, bits, num_tables, seed, plane_method)
    cols = [F.col(id_col).alias(out_id)]
    if keep_vec:
        cols.append(F.col(vec_col).alias(f"__{out_id}_v__"))
    out = df.select(*cols, F.posexplode(bucketize(F.col(vec_col))).alias("table", "bucket"))
    return out


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    bits: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    exclude_self: bool = True,
    *,
    max_broadcast_bytes: int = DEFAULT_MAX_BROADCAST_BYTES,
    plane_method: str = "gaussian",
) -> DataFrame:
    """Approximate cosine top-k: score only candidates sharing an LSH
    bucket with the query in at least one of ``num_tables`` tables.

    Shuffle profile: each side explodes ×num_tables and hash-joins on
    (table, bucket) — linear in corpus size, no broadcast required, so
    it scales past ``brute_force_topk`` when the query set is large
    too. P[bit match] = 1 − θ/π per hyperplane.
    """
    # Bare-id bucket join (narrow rows), dedup multi-table hits, THEN
    # attach vector payloads to the surviving pairs and score once.
    qb = _with_buckets(
        queries, query_id, query_vec, "query_id", dim, bits, num_tables, seed,
        keep_vec=False, plane_method=plane_method,
    )
    cb = _with_buckets(
        corpus, corpus_id, corpus_vec, "candidate_id", dim, bits, num_tables, seed,
        keep_vec=False, plane_method=plane_method,
    )
    joined = qb.join(cb, ["table", "bucket"]).drop("table", "bucket")
    if exclude_self:
        joined = joined.filter(F.col("candidate_id") != F.col("query_id"))
    pairs = joined.dropDuplicates(["query_id", "candidate_id"])
    # Same rescoring strategy as cosine_near_dup_pairs: when both
    # vector sets fit the broadcast BYTE budget (Catalyst plan stats —
    # no eager scan), score the narrow pair list against broadcast
    # matrices in one mapInPandas pass; otherwise join-attach payloads
    # (shuffle-safe at any scale).
    # Estimate on the (id, vector) projection actually gathered, so
    # heavy unrelated columns can't spuriously fail the byte budget;
    # with two distinct frames the budget caps the summed gather.
    gathered = [corpus.select(corpus_id, corpus_vec)]
    if queries is not corpus:
        gathered.append(queries.select(query_id, query_vec))
    fits = _fits_broadcast(max_broadcast_bytes, *gathered)
    if fits:
        scored = _score_pairs_broadcast_2sided(
            queries, corpus, pairs, query_id, query_vec, corpus_id, corpus_vec,
        )
    else:
        qv = queries.select(F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv__"))
        cv = corpus.select(F.col(corpus_id).alias("candidate_id"), F.col(corpus_vec).alias("__cv__"))
        attached = pairs.join(qv, "query_id").join(cv, "candidate_id")
        scored = attached.select(
            "query_id",
            "candidate_id",
            _cosine_vec(F.col("__qv__"), F.col("__cv__")).alias("cosine"),
        )
    return _topk_per_query(scored, k)


def _score_pairs_broadcast(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Score a narrow (id_a, id_b) candidate-pair frame against a
    broadcast id→vector matrix in one ``mapInPandas`` pass.

    The pair rows stay two scalars wide end to end — no join ever
    carries vector payloads — and the per-batch work is a numpy gather
    + one einsum. Numerics match :func:`_cosine_vec` exactly
    (float64 dot / max(norm, 1e-12) products). Only valid when the
    corpus fits on the driver/executors (caller guards on row count,
    same contract as ``cosine_near_dup_pairs_exact``).
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = df.sparkSession
    pdf = df.select(id_col, vec_col).toPandas()
    mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
    norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
    index = pd.Series(np.arange(len(pdf)), index=pdf[id_col].to_numpy())
    bc = spark.sparkContext.broadcast((index, mat, norms))
    out_schema = StructType(
        list(pairs.schema.fields) + [StructField("cosine", DoubleType())],
    )

    def score(batches):
        idx, m, nn = bc.value
        for batch in batches:
            ia = idx[batch["id_a"].to_numpy()].to_numpy()
            ib = idx[batch["id_b"].to_numpy()].to_numpy()
            cos = np.einsum("ij,ij->i", m[ia], m[ib]) / (nn[ia] * nn[ib])
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "id_a": batch["id_a"].to_numpy()[keep],
                    "id_b": batch["id_b"].to_numpy()[keep],
                    "cosine": cos[keep],
                },
            )

    return pairs.mapInPandas(score, out_schema)


def _score_pairs_broadcast_2sided(
    queries: DataFrame,
    corpus: DataFrame,
    pairs: DataFrame,
    query_id: str,
    query_vec: str,
    corpus_id: str,
    corpus_vec: str,
) -> DataFrame:
    """Two-lookup variant of :func:`_score_pairs_broadcast` for
    (query_id, candidate_id) pairs whose sides come from different
    frames. Emits every pair with its cosine (no threshold filter —
    top-k selection happens downstream)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    spark = queries.sparkSession

    def _lookup(df, id_col, vec_col):
        pdf = df.select(id_col, vec_col).toPandas()
        mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nn = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
        idx = pd.Series(np.arange(len(pdf)), index=pdf[id_col].to_numpy())
        return idx, mat, nn

    qlk = _lookup(queries, query_id, query_vec)
    clk = (
        qlk
        if queries is corpus and (query_id, query_vec) == (corpus_id, corpus_vec)
        else _lookup(corpus, corpus_id, corpus_vec)
    )
    bc = spark.sparkContext.broadcast((qlk, clk))
    out_schema = StructType(
        list(pairs.schema.fields) + [StructField("cosine", DoubleType())],
    )

    def score(batches):
        (qi, qm, qn), (ci, cm, cn) = bc.value
        for batch in batches:
            ia = qi[batch["query_id"].to_numpy()].to_numpy()
            ib = ci[batch["candidate_id"].to_numpy()].to_numpy()
            cos = np.einsum("ij,ij->i", qm[ia], cm[ib]) / (qn[ia] * cn[ib])
            yield batch.assign(cosine=cos)

    return pairs.mapInPandas(score, out_schema)


def cosine_near_dup_pairs(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int | None = None,
    num_tables: int = 6,
    seed: int = 42,
    *,
    max_broadcast_bytes: int = DEFAULT_MAX_BROADCAST_BYTES,
    plane_method: str = "gaussian",
    expand: str = "members",
) -> DataFrame:
    """Embedding near-duplicate pairs (cosine ≥ threshold), found via
    multi-table hyperplane bucketing + exact rescoring. Returns
    (id_a, id_b, cosine) with id_a < id_b.

    ``expand="representatives"`` returns the scored pairs at the
    exact-duplicate-group REPRESENTATIVE level instead: ids reference
    the min-id member of each byte-identical vector group, and a
    surviving (rep, rep) SELF-pair row marks a group whose internal
    cosine ``cos(v, v)`` passed the threshold. For consumers that only
    need connectivity (:func:`semantic_dedup` feeds connected
    components), this skips the member-level expansion whose output is
    quadratic in duplicate-group size by the pair contract itself.

    ``bits=None`` (default) derives the LSH depth from the corpus size
    via :func:`auto_lsh_bits` — one ``df.count()`` action, the price of
    keeping the bucketed self-join linear in N instead of quadratic
    (any LSH index needs corpus stats to parameterize; IVF pays the
    same for k-means). Pin ``bits`` explicitly for low-threshold
    mining or to avoid the count on an expensive upstream frame.

    EXACT-duplicate collapse (round 12, output-identical — the vector
    sibling of the round-11 fix in
    :func:`~rdsa_utils_spark.operators.dedup.minhash_near_dedup`):
    bucketing runs over one min-id REPRESENTATIVE per byte-identical
    vector. Identical vectors share every bucket in every table, so
    (a) within-group pairs are always candidates and score exactly
    ``cos(v, v)`` — reproduced by scoring one (rep, rep) self-pair
    through the SAME rescoring path and expanding it to all member
    pairs, so threshold-edge behavior (a float ``cos(v,v)`` a hair
    under 1.0) is bit-preserved; and (b) any member's candidacy and
    cosine against an outside vector equal its representative's, so
    cross-group pairs expand by membership. What changes is cost:
    within-bucket candidate volume was quadratic in duplicate-group
    size × ``num_tables`` (the adversarial 50 %-dup probe measured
    tail exponent 2.04 pre-collapse, SCALE_PROBE_ADVERSARIAL);
    post-collapse only the genuine output volume is quadratic in
    group size — which the pair contract itself requires. The
    collapse's wide ops are one narrow window keyed on the raw vector
    (id + vector rows — no payload amplification) and output-sized
    expansion joins. ``bits`` still derives from the FULL corpus
    count, so the plane/bucket geometry — and therefore the LSH
    recall surface — is unchanged from pre-collapse behavior.
    """
    if expand not in ("members", "representatives"):
        raise ValueError(
            f"expand must be 'members' or 'representatives', got {expand!r}",
        )
    if bits is None:
        bits = auto_lsh_bits(df.count())
    memb = (
        df.select(
            F.col(id_col).alias("__mid__"), F.col(vec_col).alias("__mvec__"),
        )
        .withColumn(
            "__rep__", F.min("__mid__").over(Window.partitionBy("__mvec__")),
        )
        .transform(pin)
    )
    rep_rows = memb.filter(F.col("__mid__") == F.col("__rep__")).select(
        F.col("__mid__").alias(id_col), F.col("__mvec__").alias(vec_col),
    )
    # Bucket-join and dedup on BARE ids — (table, bucket, id) is three
    # longs per row, so the candidate-pair explosion and the
    # dropDuplicates shuffle stay narrow. Vector payloads are attached
    # only to the surviving distinct pairs. Pinned: the self-join
    # would otherwise run the bucketize UDF once per side.
    b = _with_buckets(
        rep_rows, id_col, vec_col, "nid", dim, bits, num_tables, seed,
        keep_vec=False, plane_method=plane_method,
    ).transform(pin)
    cand = (
        b.select("table", "bucket", F.col("nid").alias("id_a"))
        .join(b.select("table", "bucket", F.col("nid").alias("id_b")), ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # One (rep, rep) self-candidate per duplicate group of size ≥ 2 —
    # scored through the same path as real pairs, then expanded to the
    # group's member pairs below.
    self_cand = (
        memb.filter(F.col("__mid__") != F.col("__rep__"))
        .select(F.col("__rep__").alias("id_a"))
        .distinct()
        .withColumn("id_b", F.col("id_a"))
    )
    pairs = cand.unionByName(self_cand)
    # Rescoring strategy mirrors Spark's own broadcast-vs-shuffle join
    # choice: a corpus within the ``max_broadcast_bytes`` budget
    # (checked against Catalyst plan statistics — no eager scan, and
    # bytes not rows, so a 1536-dim corpus hits the cap ~24× sooner
    # than a 64-dim one) is gathered once and broadcast, and the narrow
    # pair list is scored in a single mapInPandas pass — no join ever
    # widens a pair row with vector payloads. Past the guard, fall back
    # to the shuffle-safe join-attach plan that works at any corpus
    # size. The broadcast-or-not decision is made on the FULL frame
    # (pre-collapse behavior), while the scored vectors come from the
    # representative rows — pairs only ever reference rep ids.
    if _fits_broadcast(max_broadcast_bytes, df.select(id_col, vec_col)):
        scored = _score_pairs_broadcast(
            rep_rows, pairs, id_col, vec_col, threshold,
        )
    else:
        vecs = rep_rows.select(
            F.col(id_col).alias("__vid__"), F.col(vec_col).alias("__v__"),
        )
        attached = (
            pairs.join(vecs.select(F.col("__vid__").alias("id_a"), F.col("__v__").alias("__va__")), "id_a")
            .join(vecs.select(F.col("__vid__").alias("id_b"), F.col("__v__").alias("__vb__")), "id_b")
        )
        scored = (
            attached.withColumn("cosine", _cosine_vec(F.col("__va__"), F.col("__vb__")))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine")
        )
    if expand == "representatives":
        return scored
    # Expand rep-level survivors to member-level pairs in ONE branch
    # (a cross/self union would duplicate the whole scored subtree in
    # the plan): joining both sides on group membership gives each
    # cross-group (ma, mb) combination exactly once — oriented with
    # least/greatest since member ids can interleave across groups —
    # and each self-pair (rep, rep) both ways round, cut to ma < mb by
    # the filter. Every emitted row is unique; no dedup shuffle.
    ma = memb.select(F.col("__rep__").alias("id_a"), F.col("__mid__").alias("__ma__"))
    mb = memb.select(F.col("__rep__").alias("id_b"), F.col("__mid__").alias("__mb__"))
    return (
        scored.join(ma, "id_a")
        .join(mb, "id_b")
        .filter(
            (F.col("id_a") != F.col("id_b")) | (F.col("__ma__") < F.col("__mb__")),
        )
        .select(
            F.least("__ma__", "__mb__").alias("id_a"),
            F.greatest("__ma__", "__mb__").alias("id_b"),
            "cosine",
        )
    )


def cosine_near_dup_pairs_exact(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    *,
    max_corpus_rows: int = 2_000_000,
    max_broadcast_bytes: int = DEFAULT_MAX_BROADCAST_BYTES,
) -> DataFrame:
    """Exact all-pairs cosine near-duplicates (cosine ≥ threshold,
    ``id_a < id_b``) — the verification baseline for
    ``cosine_near_dup_pairs``.

    Plan: the (id, unit-vector) corpus is collected once and broadcast
    to executors; a single ``mapInPandas`` pass over the same frame
    scores each Arrow batch against the whole corpus with one float64
    GEMM and emits only the surviving pairs. The plan has zero joins
    and zero shuffles — the O(n²) work lives inside BLAS, and the
    output is already the (sparse) survivor set. This is deliberately
    the exact small-corpus path, guarded by ``max_corpus_rows``
    (2M rows × 64 dims ≈ 1 GiB broadcast); beyond that the
    LSH-bucketed ``cosine_near_dup_pairs`` delivers the same contract
    with sub-quadratic candidate generation.
    """
    spark = df.sparkSession
    # Numeric ids ride through directly; any other id type (string
    # doc ids etc. — which the LSH sibling accepts) gets a dense long
    # surrogate via a global row_number and is mapped back at the
    # end. The global window is fine HERE because this exact path
    # already bounds the corpus to broadcast size; pair ordering
    # (id_a < id_b) then follows the id's own sort order.
    id_dtype = df.schema[id_col].dataType.typeName()
    if id_dtype in ("long", "integer", "short", "byte"):
        src = df.select(
            F.col(id_col).cast("long").alias("id"), F.col(vec_col).alias("vec"),
        )
        id_map = None
    else:
        with_sur = df.select(
            F.col(id_col).alias("__orig__"), F.col(vec_col).alias("vec"),
        ).withColumn(
            "id", F.row_number().over(Window.orderBy(F.col("__orig__"))).cast("long"),
        )
        id_map = with_sur.select("id", "__orig__")
        src = with_sur.select("id", "vec")
    n_rows = src.count()
    if n_rows > max_corpus_rows:
        raise ValueError(
            f"corpus has {n_rows} rows > max_corpus_rows={max_corpus_rows}; "
            "use cosine_near_dup_pairs (LSH) for corpora beyond broadcast size",
        )
    # Row cap alone under-guards wide embeddings: 2M rows is ~1 GiB at
    # 64 dims but 24 GiB at 1536 dims. The gathered float64 matrix is
    # exactly rows × dim × 8 bytes — cap that too.
    est_bytes = n_rows * dim * 8
    if est_bytes > max_broadcast_bytes:
        size_str = (
            f"~{est_bytes >> 20} MiB" if est_bytes >= (1 << 20)
            else f"~{max(1, est_bytes >> 10)} KiB"
        )
        raise ValueError(
            f"corpus matrix is {size_str} ({n_rows} rows × {dim} "
            f"dims × 8 B) > max_broadcast_bytes={max_broadcast_bytes}; "
            "use cosine_near_dup_pairs (LSH) for corpora beyond broadcast size",
        )
    pdf = src.toPandas()
    if pdf.empty:
        # Zero-row corpus: no pairs by definition; keep the output
        # schema (original id type) without running the scoring pass.
        return df.limit(0).select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cosine"),
        )
    ids = pdf["id"].to_numpy(dtype=np.int64)
    mat = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0.0] = 1.0
    unit = mat / norms[:, None]
    bc = spark.sparkContext.broadcast((ids, unit))

    def score(batches):
        c_ids, c_unit = bc.value
        for batch in batches:
            if batch.empty:
                continue
            bmat = np.stack(batch["vec"].to_numpy()).astype(np.float64)
            bn = np.linalg.norm(bmat, axis=1)
            bn[bn == 0.0] = 1.0
            sims = (bmat / bn[:, None]) @ c_unit.T  # (batch, corpus)
            b_ids = batch["id"].to_numpy(dtype=np.int64)
            keep = (sims >= threshold) & (b_ids[:, None] < c_ids[None, :])
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": b_ids[rows],
                    "id_b": c_ids[cols],
                    "cosine": sims[rows, cols],
                },
            )

    pairs = src.mapInPandas(score, "id_a long, id_b long, cosine double")
    if id_map is not None:
        ma = id_map.select(F.col("id").alias("id_a"), F.col("__orig__").alias("__oa__"))
        mb = id_map.select(F.col("id").alias("id_b"), F.col("__orig__").alias("__ob__"))
        pairs = (
            # broadcast: the id map is bounded by max_corpus_rows; by size alone the planner builds the pairs
            pairs.join(F.broadcast(ma), "id_a")
            .join(mb, "id_b")
            .select(
                F.col("__oa__").alias("id_a"),
                F.col("__ob__").alias("id_b"),
                "cosine",
            )
        )
    return pairs


def ivf_train_centroids(
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    iters: int = 3,
    seed: int = 42,
) -> np.ndarray:
    """Train spherical-k-means centroids for an IVF index, distributed.

    Initialization is deterministic (the ``n_cells`` rows with the
    smallest ids). Each Lloyd iteration is ONE ``mapInPandas`` pass:
    every partition emits per-cell partial (count, sum-vector) rows —
    at most ``n_cells`` rows per partition — which the driver combines
    into new unit-norm centroids. Driver traffic is O(partitions ×
    n_cells × dim) floats per iteration, independent of corpus size,
    so the same code runs unchanged on a 100 TB corpus.

    Empty cells keep their previous centroid. Returns a unit-norm
    (n_cells, dim) float64 array.
    """
    init_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_cells).collect()
    )
    cents = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in init_rows])
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    partial_schema = "cell int, cnt long, vsum array<double>"
    vecs_only = corpus.select(vec_col)

    for _ in range(iters):
        c = cents  # close over this iteration's centroids

        def partials(batches, _c=c):
            for pdf in batches:
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                cells = np.argmax((mat / norms) @ _c.T, axis=1)
                out_cells, out_cnt, out_sum = [], [], []
                for cell in np.unique(cells):
                    mask = cells == cell
                    out_cells.append(int(cell))
                    out_cnt.append(int(mask.sum()))
                    out_sum.append(mat[mask].sum(axis=0).tolist())
                yield pd.DataFrame(
                    {"cell": out_cells, "cnt": out_cnt, "vsum": out_sum},
                )

        rows = vecs_only.mapInPandas(partials, partial_schema).collect()
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.asarray(r["vsum"], dtype=np.float64)
            counts[r["cell"]] += r["cnt"]
        nonempty = counts > 0
        cents = cents.copy()
        cents[nonempty] = sums[nonempty] / counts[nonempty, None]
        cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    return cents


def _cell_assign_udf(centroids: np.ndarray, nprobe: int = 1):
    """Pandas UDF: embedding → array of the ``nprobe`` nearest cell ids
    (by cosine). One matmul per Arrow batch."""
    c = centroids

    @F.pandas_udf("array<int>")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = (mat / norms) @ c.T  # (n, n_cells)
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series([row.astype(np.int32).tolist() for row in top])

    return assign


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cell",
) -> DataFrame:
    """Attach the nearest-centroid cell id (int). At scale, write the
    corpus partitioned/bucketed by this column so probes prune files."""
    assign = _cell_assign_udf(centroids, nprobe=1)
    return df.withColumn(out_col, F.element_at(assign(F.col(vec_col)), 1))


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 3,
    seed: int = 42,
    exclude_self: bool = True,
    centroids: np.ndarray | None = None,
    round_scores_to: int | None = None,
) -> DataFrame:
    """IVF approximate cosine top-k: corpus vectors live in k-means
    cells; each query scores only the ``nprobe`` cells nearest its own
    vector, then exact cosine rescoring + per-query top-k.

    ``round_scores_to`` switches the per-cell selection to a
    deterministic replayable form (scores rounded before selection,
    full (score desc, id asc) ordering instead of argpartition's
    arbitrary tie order) so an external engine can reproduce the
    output exactly — see the ``ivf_topk_replay`` query. Leave ``None``
    in production.

    Shuffle profile: corpus is hash-partitioned by cell once; queries
    explode ×nprobe and equi-join on cell — no broadcast of the corpus,
    no cross join. Candidate fraction ≈ nprobe/n_cells, so cost drops
    ~linearly as n_cells grows. Pass pre-trained ``centroids`` to skip
    training (the 100 TB pattern: train once on a sample, persist).
    """
    if centroids is None:
        centroids = ivf_train_centroids(
            corpus, dim, corpus_vec, corpus_id, n_cells, iters, seed,
        )
    ca = ivf_assign(
        corpus.select(
            F.col(corpus_id).alias("candidate_id"), F.col(corpus_vec).alias("__cv__"),
        ),
        centroids,
        "__cv__",
        "cell",
    )
    probe = _cell_assign_udf(centroids, nprobe=nprobe)
    qa = queries.select(
        F.col(query_id).alias("query_id"), F.col(query_vec).alias("__qv__"),
    ).withColumn("cell", F.explode(probe(F.col("__qv__"))))

    qid_t = dict(qa.dtypes)["query_id"]
    cid_t = dict(ca.dtypes)["candidate_id"]
    out_schema = f"query_id {qid_t}, candidate_id {cid_t}, cosine double"
    drop_self = exclude_self

    # Per-cell scoring: ONE BLAS matmul per (cell, queries-in-cell ×
    # candidates-in-cell) block and only the per-cell top-k survives —
    # k·nprobe rows per query reach the final window instead of every
    # candidate pair. This is what makes IVF beat brute force: candidate
    # work ≈ nprobe/n_cells of the corpus, all of it vectorized.
    def score_cell(key, qpdf: pd.DataFrame, cpdf: pd.DataFrame):
        if qpdf.empty or cpdf.empty:
            return pd.DataFrame({"query_id": [], "candidate_id": [], "cosine": []})
        qm = np.stack(qpdf["__qv__"].to_numpy()).astype(np.float64)
        cm = np.stack(cpdf["__cv__"].to_numpy()).astype(np.float64)
        qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
        cm /= np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
        sims = qm @ cm.T  # (nq, nc)
        qids = qpdf["query_id"].to_numpy()
        cids = cpdf["candidate_id"].to_numpy()
        if drop_self:
            sims = np.where(qids[:, None] == cids[None, :], -np.inf, sims)
        if round_scores_to is not None:
            sims = np.round(sims, round_scores_to)
        kk = min(k, sims.shape[1])
        rows_q, rows_c, rows_s = [], [], []
        for i in range(sims.shape[0]):
            if round_scores_to is not None:
                # Deterministic selection: (score desc, id asc).
                top_i = np.lexsort((cids, -sims[i]))[:kk]
            else:
                top_i = np.argpartition(-sims[i], kk - 1)[:kk]
            for j in top_i:
                if np.isfinite(sims[i, j]):
                    rows_q.append(qids[i])
                    rows_c.append(cids[j])
                    rows_s.append(float(sims[i, j]))
        return pd.DataFrame({"query_id": rows_q, "candidate_id": rows_c, "cosine": rows_s})

    partials = (
        qa.groupBy("cell")
        .cogroup(ca.groupBy("cell"))
        .applyInPandas(score_cell, out_schema)
    )
    return _topk_per_query(partials, k)


def hyperplane_bucket(
    vec: Column,
    planes: Sequence[Sequence[float]],
) -> Column:
    """Expression-only sign-pattern bucket (kept for environments where
    Arrow/pandas UDFs are unavailable; the UDF path is ~10× faster)."""
    bits = [
        F.when(
            _dot(vec, F.array(*[F.lit(float(w)) for w in plane])) >= 0, F.lit(1),
        ).otherwise(F.lit(0))
        for plane in planes
    ]
    bucket = F.lit(0)
    for b in bits:
        bucket = bucket * 2 + b
    return bucket


def standardize_dims(
    df: DataFrame,
    vec_col: str,
    out_col: str = "z_vec",
    moment_round: int = 9,
    round_to: int = 6,
) -> DataFrame:
    """Per-dimension standardization of an embedding column: each
    coordinate becomes ``(x - mean_d) / stddev_d`` against the
    COLUMN-WISE moments of the whole frame — the feature-scaling step
    before distance-based work when dimensions carry different
    scales. Zero-variance dimensions map to 0.0.

    Shuffle shape at 100 TB: one ``posexplode`` → ``groupBy(pos)``
    (at most `dim` groups, map-side combined) computes the moment
    table, which collapses to TWO broadcast arrays (mean, stddev —
    O(dim), corpus-size independent); every row then standardizes
    itself with ``zip_with`` — no join against the exploded stream,
    mirroring ``boilerplate_ngrams``'s broadcast-vocabulary shape.

    Moments are rounded (``moment_round``) BEFORE use and outputs
    after, so the result replays bit-identically on an external
    engine regardless of aggregation order. Sample stddev
    (``stddev_samp``); single-row frames therefore yield NULL stddev
    → treated as zero-variance.
    """
    e = df.select(F.posexplode(F.col(vec_col)).alias("__pos", "__x"))
    m = e.groupBy("__pos").agg(
        F.round(F.avg("__x"), moment_round).alias("__mu"),
        F.round(F.stddev_samp("__x"), moment_round).alias("__sd"),
    )
    arrs = m.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__mu"))),
            lambda s: s["__mu"],
        ).alias("__mus"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__sd"))),
            lambda s: s["__sd"],
        ).alias("__sds"),
    )
    centered = F.zip_with(F.col(vec_col), F.col("__mus"), lambda x, mu: x - mu)
    z = F.zip_with(
        centered,
        F.col("__sds"),
        # +0.0 canonicalizes IEEE -0.0 (round can produce it) so the
        # value prints identically on every engine.
        lambda d, s: F.when(
            s.isNull() | (s == 0.0), F.lit(0.0),
        ).otherwise(F.round(d / s, round_to) + F.lit(0.0)),
    )
    return df.crossJoin(arrs).withColumn(out_col, z).drop(
        "__mus", "__sds",
    )


def label_centroid_similarity(
    df: DataFrame,
    vec_col: str,
    label_col: str,
    moment_round: int = 9,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-separation diagnostic for a labeled
    embedding corpus (near-1.0 pairs flag label confusion). One row
    per unordered label pair: ``(label_a, label_b, cos_sim)``.

    Shuffle shape at 100 TB: ``posexplode`` → ``groupBy(label,
    pos)`` mean (map-side combined, labels × dim groups) → rebuild
    per-label centroid arrays → pairwise join over the |labels|-row
    centroid table. Only the TINY centroid table is ever joined
    non-equi (|labels|² pairs); the corpus itself is touched once.
    Centroid coordinates round to ``moment_round`` before the cosine
    so the whole result replays bit-identically externally (the dot
    product is a deterministic left fold).
    """
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("__pos", "__x"),
    )
    m = e.groupBy("label", "__pos").agg(
        F.round(F.avg("__x"), moment_round).alias("__mu"),
    )
    cents = m.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__mu"))),
            lambda s: s["__mu"],
        ).alias("__c"),
    )
    a = cents.select(F.col("label").alias("label_a"), F.col("__c").alias("__ca"))
    b = cents.select(F.col("label").alias("label_b"), F.col("__c").alias("__cb"))
    pairs = a.join(b, F.col("label_a") < F.col("label_b"))
    return pairs.select(
        "label_a",
        "label_b",
        F.round(cosine(F.col("__ca"), F.col("__cb")), round_to).alias("cos_sim"),
    )


# --------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN index
# --------------------------------------------------------------------------


def pq_train_codebooks(
    corpus: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_subvectors: int = 8,
    n_codes: int = 16,
    iters: int = 3,
) -> np.ndarray:
    """Train product-quantization codebooks, distributed.

    The L2-normalized vector is split into ``n_subvectors`` contiguous
    blocks; each block gets its own ``n_codes``-entry k-means codebook
    (classic PQ, Jégou et al. 2011). A vector is then stored as
    ``n_subvectors`` small code ids — at (8, 256) that is 8 bytes per
    vector vs 256 for float32, a 32× index compression, which is what
    makes a 100 TB embedding corpus scannable.

    Same distributed-Lloyd shape as :func:`ivf_train_centroids`: a
    deterministic init (the ``n_codes`` smallest-id vectors, sliced per
    block), then per iteration ONE ``mapInPandas`` pass emitting
    per-(subvector, code) partial (count, sum) rows — at most
    ``n_subvectors × n_codes`` rows per partition, so driver traffic is
    independent of corpus size. Empty codes keep their previous
    centroid. Returns a ``(n_subvectors, n_codes, dim//n_subvectors)``
    float64 array.
    """
    if dim % n_subvectors != 0:
        raise ValueError(
            f"dim={dim} must divide evenly into n_subvectors={n_subvectors}",
        )
    d_sub = dim // n_subvectors

    init_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(n_codes).collect()
    )
    init = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in init_rows])
    init /= np.maximum(np.linalg.norm(init, axis=1, keepdims=True), 1e-12)
    # (S, C, d_sub): code c of subvector s starts as block s of init row c.
    books = np.stack(
        [init[:, s * d_sub:(s + 1) * d_sub] for s in range(n_subvectors)],
    )

    partial_schema = "sub int, code int, cnt long, vsum array<double>"
    vecs_only = corpus.select(vec_col)

    for _ in range(iters):
        bk = books

        def partials(batches, _bk=bk):
            for pdf in batches:
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                subs, codes_l, cnts, sums = [], [], [], []
                for s in range(_bk.shape[0]):
                    block = mat[:, s * d_sub:(s + 1) * d_sub]  # (n, d_sub)
                    # nearest code by L2: argmin ||x - c||² = argmax (x·c - ½||c||²)
                    scores = block @ _bk[s].T - 0.5 * (_bk[s] ** 2).sum(axis=1)
                    assign = np.argmax(scores, axis=1)
                    for code in np.unique(assign):
                        mask = assign == code
                        subs.append(s)
                        codes_l.append(int(code))
                        cnts.append(int(mask.sum()))
                        sums.append(block[mask].sum(axis=0).tolist())
                yield pd.DataFrame(
                    {"sub": subs, "code": codes_l, "cnt": cnts, "vsum": sums},
                )

        rows = vecs_only.mapInPandas(partials, partial_schema).collect()
        sums = np.zeros_like(books)
        counts = np.zeros(books.shape[:2], dtype=np.int64)
        for r in rows:
            sums[r["sub"], r["code"]] += np.asarray(r["vsum"], dtype=np.float64)
            counts[r["sub"], r["code"]] += r["cnt"]
        books = books.copy()
        nz = counts > 0
        books[nz] = sums[nz] / counts[nz][:, None]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the PQ code array (``array<int>``, one entry per
    subvector). Vectors are L2-normalized before encoding, so ADC
    scores later approximate cosine directly. One Arrow-batched matmul
    per subvector; at scale, persist the coded corpus and drop the raw
    vectors from the scan path."""
    bk = codebooks
    n_sub, _, d_sub = bk.shape

    @F.pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        codes = np.empty((mat.shape[0], n_sub), dtype=np.int64)
        for s in range(n_sub):
            block = mat[:, s * d_sub:(s + 1) * d_sub]
            scores = block @ bk[s].T - 0.5 * (bk[s] ** 2).sum(axis=1)
            codes[:, s] = np.argmax(scores, axis=1)
        return pd.Series([row.tolist() for row in codes])

    return df.withColumn(out_col, encode(F.col(vec_col)))


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_subvectors: int = 8,
    n_codes: int = 16,
    iters: int = 3,
    rerank_factor: int = 10,
    exclude_self: bool = True,
    codebooks: np.ndarray | None = None,
    corpus_codes: DataFrame | None = None,
    round_adc_to: int | None = None,
) -> DataFrame:
    """PQ approximate cosine top-k: asymmetric distance computation
    (ADC) shortlist + exact re-ranking.

    Each query precomputes a small lookup table: ``lut[s][c] =
    query_block_s · codebook[s][c]`` (a ``n_subvectors × n_codes``
    float grid). The corpus-sized scoring pass is then PURE JVM
    expression work — ``aggregate(zip_with(codes, lut, (code, row) →
    row[code]))`` — inside whole-stage codegen: no Python, no vector
    payloads, only the tiny code column moves. The tiny query frame
    (ids + luts) broadcasts. The ADC top ``k × rerank_factor`` per
    query then re-scores EXACTLY: only those candidates fetch their
    true vectors (an equi-join on candidate id), so the full-precision
    work is ``k × rerank_factor`` rows per query instead of the whole
    corpus — the standard IVFADC-style re-rank stage that buys back
    the quantization error while keeping the 10-100× compressed scan.
    Set ``rerank_factor=1`` (shortlist = k) to skip re-ranking and
    return raw ADC scores.

    Accuracy is the PQ tradeoff — verify with the recall harness
    against :func:`brute_force_topk` (see tests/test_recall.py); raise
    ``n_codes``/``rerank_factor`` for recall, lower them for index
    size/scan cost. Pass pre-trained ``codebooks`` (+ optionally a
    pre-encoded ``corpus_codes``) in production — the 100 TB pattern
    is train-once-on-a-sample, encode-once, reuse.

    ``round_adc_to`` rounds the ADC scores before shortlist ranking so
    the shortlist replays bit-identically on engines with different
    float summation order (the external-oracle pattern; see the
    ``pq_topk_replay`` query) — leave ``None`` in production.
    """
    if rerank_factor < 1:
        raise ValueError(f"rerank_factor must be >= 1, got {rerank_factor}")
    if codebooks is None:
        codebooks = pq_train_codebooks(
            corpus, dim, corpus_vec, corpus_id, n_subvectors, n_codes, iters,
        )
    bk = codebooks
    n_sub, n_cd, d_sub = bk.shape

    if corpus_codes is None:
        corpus_codes = pq_encode(
            corpus.select(
                F.col(corpus_id).alias("candidate_id"),
                F.col(corpus_vec).alias("__cv__"),
            ),
            bk,
            "__cv__",
            "__code__",
        ).select("candidate_id", "__code__")

    @F.pandas_udf("array<array<double>>")
    def lut_udf(vecs: pd.Series) -> pd.Series:
        if vecs.empty:
            return pd.Series([], dtype=object)
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        out = []
        for row in mat:
            lut = [
                (row[s * d_sub:(s + 1) * d_sub] @ bk[s].T).tolist()
                for s in range(n_sub)
            ]
            out.append(lut)
        return pd.Series(out)

    q = queries.select(
        F.col(query_id).alias("query_id"),
        lut_udf(F.col(query_vec)).alias("__lut__"),
    )

    # broadcast: the query LUTs are the bounded side; by size alone the planner builds the corpus codes
    joined = corpus_codes.crossJoin(F.broadcast(q))
    if exclude_self:
        joined = joined.filter(F.col("candidate_id") != F.col("query_id"))
    adc = F.aggregate(
        F.zip_with(
            F.col("__code__"),
            F.col("__lut__"),
            lambda code, row: F.element_at(row, code + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    if round_adc_to is not None:
        adc = F.round(adc, round_adc_to)
    scored = joined.select("query_id", "candidate_id", adc.alias("cosine"))
    if rerank_factor == 1:
        return _topk_per_query(scored, k)

    shortlist = _topk_per_query(scored, k * rerank_factor).select(
        "query_id", "candidate_id",
    )
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(query_vec).alias("__qv__"),
        _norm(F.col(query_vec)).alias("__qn__"),
    )
    cv = corpus.select(
        F.col(corpus_id).alias("candidate_id"),
        F.col(corpus_vec).alias("__cv__"),
        _norm(F.col(corpus_vec)).alias("__cn__"),
    )
    rescored = (
        shortlist.join(cv, "candidate_id")
        .join(qv, "query_id")
        .select(
            "query_id",
            "candidate_id",
            (
                _dot(F.col("__qv__"), F.col("__cv__"))
                / (F.col("__qn__") * F.col("__cn__"))
            ).alias("cosine"),
        )
    )
    return _topk_per_query(rescored, k)


def semantic_dedup(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "lsh",
    max_iterations: int = 25,
    **pair_kwargs,
) -> DataFrame:
    """Embedding-space deduplication (SemDeDup-style): drop every row
    whose vector is cosine-≥-``threshold`` similar to a kept one,
    resolving TRANSITIVE duplicate chains — A~B and B~C collapse to
    one survivor even when A~C is below threshold. Returns the
    surviving rows of ``df`` (full schema), keeping the smallest id
    per duplicate cluster.

    Composition of two audited primitives: near-dup pair generation
    (``method="lsh"`` — hyperplane-bucketed candidates + exact
    rescoring, the 100 TB path; ``method="exact"`` — all-pairs
    broadcast GEMM, the oracle-checkable baseline) feeding
    :func:`~rdsa_utils_spark.operators.dedup.dedup_clusters`
    min-label propagation. The anti-join back to ``df`` touches ids
    only; vectors never shuffle after pair generation.

    The LSH path consumes ``expand="representatives"`` pairs and
    builds a LINEAR edge set instead of the pair operator's full
    member-level expansion, which is quadratic in exact-dup group
    size by contract (the round-12 adversarial vector probe measured
    semantic_dedup_lsh's sf2 point dominated by exactly that
    expansion). Connected components are unchanged — proof by cases
    on a byte-identical group G with representative r:

    - G's (r, r) self-pair survived ``threshold`` (the always case:
      ``cos(v, v)`` is 1 up to rounding): star edges (r, m) for every
      member connect G exactly as the full member clique did.
    - Cross edge (r_a, r_b) between groups A and B: one-way
      membership expansions (m_a, r_b) for all m_a and (r_a, m_b)
      for all m_b — both include (r_a, r_b) itself — connect
      A ∪ B into one component exactly as the full bipartite
      member expansion did, EVEN when a group's self-pair failed
      the threshold (members then hang off the other group's rep,
      which is how the full expansion connected them too: via
      cross pairs, every member of A paired with every member of B).

    Same node set, same components ⇒ same min-id survivor per
    cluster ⇒ output-identical to the pre-reduction composition;
    edge volume is member-count linear instead of group-size
    quadratic. ``tests/test_round12_vector_collapse.py`` pins the
    LSH output against the full-expansion composition on a
    mega-cluster corpus.
    """
    from rdsa_utils_spark.operators.dedup import dedup_clusters

    if method == "lsh":
        # Narrow (id, id, cosine) rows, consumed by three edge
        # branches below (each doubled again by dedup_clusters'
        # symmetrize union) — checkpoint so the LSH candidate
        # generation + rescoring subtree runs once, not six times.
        scored = cosine_near_dup_pairs(
            df, dim, id_col=id_col, vec_col=vec_col, threshold=threshold,
            expand="representatives", **pair_kwargs,
        ).transform(pin)
        memb = (
            df.select(
                F.col(id_col).alias("__mid__"),
                F.col(vec_col).alias("__mvec__"),
            )
            .withColumn(
                "__rep__",
                F.min("__mid__").over(Window.partitionBy("__mvec__")),
            )
            .select("__mid__", "__rep__")
            .transform(pin)
        )
        self_ok = scored.filter(F.col("id_a") == F.col("id_b")).select(
            F.col("id_a").alias("__rep__"),
        )
        stars = (
            memb.join(self_ok, "__rep__")
            .filter(F.col("__mid__") != F.col("__rep__"))
            .select(
                F.col("__rep__").alias("id_a"), F.col("__mid__").alias("id_b"),
            )
        )
        cross = scored.filter(F.col("id_a") != F.col("id_b")).select(
            "id_a", "id_b",
        )
        cross_a = cross.join(
            memb.select(
                F.col("__rep__").alias("id_a"), F.col("__mid__").alias("__m__"),
            ),
            "id_a",
        ).select(F.col("__m__").alias("id_a"), "id_b")
        cross_b = cross.join(
            memb.select(
                F.col("__rep__").alias("id_b"), F.col("__mid__").alias("__m__"),
            ),
            "id_b",
        ).select("id_a", F.col("__m__").alias("id_b"))
        pairs = cross_a.unionByName(cross_b).unionByName(stars)
    elif method == "exact":
        pairs = cosine_near_dup_pairs_exact(
            df, dim, id_col=id_col, vec_col=vec_col, threshold=threshold,
            **pair_kwargs,
        )
    else:
        raise ValueError(f"method must be 'lsh' or 'exact', got {method!r}")

    clusters = dedup_clusters(
        pairs.select("id_a", "id_b"), max_iterations=max_iterations,
    )
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    return df.join(losers, df[id_col] == losers["id"], "left_anti")


def pca_train(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    center: bool = True,
):
    """Train a PCA model over an embedding column, distributed.

    One ``mapInPandas`` pass computes per-partition moment partials
    (row count, sum vector, and the d×d Gram matrix X'X — each partial
    is O(d²) floats regardless of partition size, accumulated with ONE
    numpy matmul per Arrow batch); a ``coalesce``d combine level caps
    what the driver ingests at a handful of partial rows, so driver
    traffic is O(d²) — independent of corpus size. The covariance
    eigendecomposition is d×d on the driver (d ≤ a few thousand for
    real embedding models; trivial next to the scan).

    Sign convention: each component is flipped so its largest-|x|
    coordinate is positive — deterministic across LAPACK builds.

    Returns a dict: ``mean`` (d,), ``components`` (k, d) rows =
    principal axes (descending eigenvalue), ``explained_variance``
    (k,) eigenvalues, ``explained_variance_ratio`` (k,). All float64
    numpy arrays. No reference equivalent (extension surface).
    """
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_train: input frame is empty")
    dim = len(first[0])
    if not 1 <= k <= dim:
        raise ValueError(f"pca_train: need 1 <= k <= dim={dim}, got {k}")

    partial_schema = "n long, s array<double>, g array<double>"

    def partials(batches):
        n, s, g = 0, np.zeros(dim), np.zeros((dim, dim))
        for pdf in batches:
            mat = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
            n += mat.shape[0]
            s += mat.sum(axis=0)
            g += mat.T @ mat
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]},
            )

    def combine(batches):
        n, s, g = 0, np.zeros(dim), np.zeros(dim * dim)
        seen = False
        for pdf in batches:
            for _, r in pdf.iterrows():
                seen = True
                n += int(r["n"])
                s += np.asarray(r["s"])
                g += np.asarray(r["g"])
        if seen:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.tolist()]},
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partials, partial_schema)
        .coalesce(8)
        .mapInPandas(combine, partial_schema)
        .collect()
    )
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in rows], axis=0).reshape(dim, dim)
    mean = s / n
    if center:
        cov = (g - n * np.outer(mean, mean)) / max(n - 1, 1)
    else:
        cov = g / max(n - 1, 1)
        mean = np.zeros(dim)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].T.copy()
    flip = np.sign(comps[np.arange(k), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps *= flip[:, None]
    ev = np.maximum(evals[order], 0.0)
    total = max(float(np.trace(cov)), 1e-300)
    return {
        "mean": mean,
        "components": comps,
        "explained_variance": ev,
        "explained_variance_ratio": ev / total,
    }


def pca_project(
    df: DataFrame,
    model: dict,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
) -> DataFrame:
    """Project an embedding column onto a trained :func:`pca_train`
    model: one Arrow-vectorized pandas UDF, one (batch × d) @ (d × k)
    matmul per batch; the (d × k) projection matrix travels to
    executors inside the UDF closure (kilobytes). ``whiten=True``
    scales each projected axis to unit variance."""
    comps = np.asarray(model["components"], dtype=np.float64)
    mean = np.asarray(model["mean"], dtype=np.float64)
    proj = comps.T
    if whiten:
        scale = 1.0 / np.sqrt(np.maximum(model["explained_variance"], 1e-12))
        proj = proj * scale[None, :]

    @F.pandas_udf("array<double>")
    def _project(v: pd.Series) -> pd.Series:
        mat = np.stack(v.to_numpy()).astype(np.float64) - mean
        out = mat @ proj
        return pd.Series(list(out))

    return df.withColumn(out_col, _project(F.col(vec_col)))


def hard_negative_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    label_col: str = "label",
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query,
    the ``k`` most cosine-similar corpus rows whose ``label_col``
    DIFFERS from the query's — the near-miss negatives that produce
    informative gradients (easy random negatives quickly saturate).

    Exact path (this function): same broadcast-scoring shape as
    :func:`brute_force_topk` with the label-inequality predicate
    applied BEFORE the top-k window, so the returned rows are the
    globally hardest negatives, not a post-filtered top-k. The scale
    path swaps the scorer for :func:`lsh_bucketed_topk` /
    :func:`ivf_topk` and keeps the same predicate; this exact form is
    the recall oracle. Deterministic left-fold cosine (JVM) so ANSI
    engines replay it bit-for-bit.

    Output: (query_id, query_label, candidate_id, candidate_label,
    cosine).
    """
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(query_vec).alias("__qv__"),
        _norm(F.col(query_vec)).alias("__qn__"),
    )
    c = corpus.select(
        F.col(corpus_id).alias("candidate_id"),
        F.col(label_col).alias("candidate_label"),
        F.col(corpus_vec).alias("__cv__"),
        _norm(F.col(corpus_vec)).alias("__cn__"),
    )
    return _broadcast_cosine_topk(
        c, q, k,
        ["query_id", "query_label", "candidate_id", "candidate_label"],
        pre_filter=F.col("candidate_label") != F.col("query_label"),
    )


def cosine_histogram(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pairs_per_row: int = 2,
    n_bins: int = 20,
    seed: str = "disthist",
) -> DataFrame:
    """Sampled pairwise-cosine histogram: the threshold-picking
    diagnostic for near-dup dedup and ANN radius choices — before
    committing to `cosine >= 0.95`, look at where the corpus's pair
    similarity mass actually sits.

    Pairs are drawn DETERMINISTICALLY (hash48 slots via
    :func:`~rdsa_utils_spark.operators.sampling.negative_sample`'s
    machinery — no RNG state), ``pairs_per_row`` per row, then scored
    with the deterministic left-fold cosine and binned over [−1, 1].
    Output: (``bin``, ``lo``, ``hi``, ``n_pairs``) — bin index
    ``min(floor((cos+1)/2·n), n−1)``.

    Scale: the sample is linear in the corpus (rows × pairs_per_row),
    the join against the slot index is one hash shuffle, and the
    histogram is a map-side-combined aggregation. The full pairwise
    histogram is O(n²) and never needed for a threshold decision.
    """
    from rdsa_utils_spark.operators.sampling import negative_sample

    pairs = negative_sample(
        df.select(id_col), df.select(id_col), id_col, id_col,
        k=pairs_per_row, seed=seed,
    )
    a = df.select(F.col(id_col).alias("__ia"), F.col(vec_col).alias("__va"))
    b = df.select(
        F.col(id_col).alias("negative_id"), F.col(vec_col).alias("__vb"),
    )
    scored = (
        pairs.select(F.col(id_col).alias("__ia"), "negative_id")
        .join(a, "__ia")
        .join(b, "negative_id")
        .select(
            (
                _dot(F.col("__va"), F.col("__vb"))
                / (_norm(F.col("__va")) * _norm(F.col("__vb")))
            ).alias("cos"),
        )
    )
    binf = F.least(
        F.floor((F.col("cos") + 1.0) / 2.0 * n_bins).cast("int"),
        F.lit(n_bins - 1),
    )
    width = 2.0 / n_bins
    return (
        scored.withColumn("bin", F.greatest(binf, F.lit(0)))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            F.round(F.lit(-1.0) + F.col("bin") * width, 6).alias("lo"),
            F.round(F.lit(-1.0) + (F.col("bin") + 1) * width, 6).alias("hi"),
            "n_pairs",
        )
        .orderBy("bin")
    )


def label_noise_scores(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """kNN label-consistency scores for mislabel detection: for each
    query row, the fraction of its ``k`` nearest corpus neighbors
    (cosine) whose label DISAGREES — rows whose neighborhoods vote
    against their own label are the curation candidates (the cheap
    end of the confident-learning family).

    Exact tier (this function): broadcast-query scoring identical to
    :func:`brute_force_topk`, then one aggregation per query. Swap
    the neighbor source for :func:`ivf_topk` at corpus scale — the
    score definition and downstream columns stay the same; this exact
    form is the recall/oracle reference.

    Returns (``id_col``, ``label``, ``n_neighbors``,
    ``disagreement``) with deterministic neighbor tie-break by id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("__qv__"),
        _norm(F.col(vec_col)).alias("__qn__"),
    )
    c = corpus.select(
        F.col(id_col).alias("candidate_id"),
        F.col(label_col).alias("candidate_label"),
        F.col(vec_col).alias("__cv__"),
        _norm(F.col(vec_col)).alias("__cn__"),
    )
    topk = _broadcast_cosine_topk(
        c, q, k,
        ["query_id", "query_label", "candidate_id", "candidate_label"],
        pre_filter=F.col("candidate_id") != F.col("query_id"),
    )
    return (
        topk.groupBy(F.col("query_id").alias(id_col), F.col("query_label").alias(label_col))
        .agg(
            F.count(F.lit(1)).alias("n_neighbors"),
            F.round(
                F.avg(
                    (F.col("candidate_label") != F.col("query_label")).cast("double"),
                ),
                round_to,
            ).alias("disagreement"),
        )
    )


def _round_half_up(x: float, digits: int) -> float:
    """Round half away from zero — the SQL ROUND convention (Python's
    built-in round is banker's/half-even, which would diverge from the
    DuckDB/Spark replay on exact ties)."""
    import math

    scale = 10.0 ** digits
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def pca_power_train(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 2,
    iterations: int = 12,
    round_to: int = 6,
):
    """Top-k principal components by QUANTIZED power iteration with
    deflation — the oracle-replayable sibling of :func:`pca_train`
    (whose LAPACK ``eigh`` cannot be reproduced in an ANSI-SQL
    engine). The covariance comes from the same O(d²)-per-partition
    moment partials (mapInPandas Gram accumulation; driver traffic is
    d², never corpus-sized); it is then rounded to ``round_to`` dp
    entrywise and the fixed-iteration recurrence

        w = C·v;  v = round(w / ||w||, r)

    runs per component, with λ = round(vᵀ(C·v), r) and deflation
    C ← round(C − λ·v·vᵀ, r). Every intermediate is quantized, so an
    independent engine running the same recurrence reproduces every
    loading and eigenvalue BIT-FOR-BIT regardless of summation order
    (the 6 dp default quantum sits ~6 orders of magnitude above the
    cross-engine accumulation-order error of the covariance sums.
    The raw matvec ``w`` is deliberately NOT rounded: quantized C
    times a quantized v makes every w a multiple of the quantum's
    square, so sums land EXACTLY on half-quantum rounding boundaries
    and the two engines' last-ulp differences flip them — dividing by
    the irrational norm first destroys that tie structure)
    — convergence quality depends on ``iterations`` (eigengap), but
    replay equality does not. Start vector is the uniform unit vector.

    Returns ``(eigenvalues, components)``: list of k floats and a
    k×d list-of-lists. Driver cost: k·iterations d×d matvecs — d ≤ a
    few thousand, microseconds next to the scan.
    """
    if k < 1 or iterations < 1:
        raise ValueError("pca_power_train: k and iterations must be >= 1")
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("pca_power_train: input frame is empty")
    dim = len(first[0])

    partial_schema = "n long, s array<double>, g array<double>"

    def partials(batches):
        n, s, g = 0, np.zeros(dim), np.zeros((dim, dim))
        for pdf in batches:
            mat = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
            n += mat.shape[0]
            s += mat.sum(axis=0)
            g += mat.T @ mat
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]},
            )

    rows = df.select(vec_col).mapInPandas(partials, partial_schema).collect()
    n = sum(r["n"] for r in rows)
    s = np.sum([np.asarray(r["s"]) for r in rows], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in rows], axis=0).reshape(dim, dim)
    mean = s / n
    cov = (g - n * np.outer(mean, mean)) / max(n - 1, 1)
    r = round_to
    C = [[_round_half_up(cov[i][j], r) for j in range(dim)] for i in range(dim)]

    import math

    eigenvalues: list[float] = []
    components: list[list[float]] = []
    v0 = _round_half_up(1.0 / math.sqrt(dim), r)
    for _ in range(k):
        v = [v0] * dim
        for _t in range(iterations):
            w = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
            nrm = math.sqrt(sum(x * x for x in w))
            if nrm < 1e-30:
                break
            v = [_round_half_up(x / nrm, r) for x in w]
        u = [sum(C[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        lam = _round_half_up(sum(v[i] * u[i] for i in range(dim)), r)
        eigenvalues.append(lam)
        components.append(v)
        C = [
            [_round_half_up(C[i][j] - lam * v[i] * v[j], r) for j in range(dim)]
            for i in range(dim)
        ]
    return eigenvalues, components


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 0,
    out_col: str = "projected",
    round_to: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with the
    md5-derived ±1 Rademacher matrix (Achlioptas 2003: database-
    friendly random projections — Rademacher entries carry the same
    distance-preservation guarantee as Gaussian): ``y = R'x /
    sqrt(out_dim)``. The SAME plane generator as the LSH family
    (:func:`_md5_planes`), so any ANSI-SQL engine regenerates R
    bit-for-bit and the whole projection is oracle-replayable.

    The d×out_dim matrix rides the closure of one Arrow-vectorized
    pandas UDF (one GEMM per batch — kilobytes of closure, no join,
    no shuffle); output components round to ``round_to`` dp so
    cross-engine accumulation order can't flip a value. Use ahead of
    ANN/near-dup when d is large: distances are preserved within
    ±ε at out_dim = O(log n / ε²), and the follow-on LSH/IVF stages
    cost out_dim/d of the original arithmetic.
    """
    if out_dim < 1:
        raise ValueError(f"out_dim must be >= 1, got {out_dim}")
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError("random_projection: input frame is empty")
    dim = len(first[0])
    planes = _md5_planes(dim, out_dim, 1, seed)  # (dim, out_dim)
    inv = 1.0 / float(np.sqrt(out_dim))

    @F.pandas_udf("array<double>")
    def _proj(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        out = np.round((mat @ planes) * inv, round_to)
        return pd.Series(list(out))

    return df.withColumn(out_col, _proj(F.col(vec_col)))


def embedding_drift(
    df: DataFrame,
    vec_col: str,
    sample_col: str,
    by: list[str] | None = None,
    moment_round: int = 9,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space drift between two samples per group — the
    vector-corpus companion to the scalar tests in
    ``operators/drift``: "did the new crawl's embedding distribution
    move?" answered by (a) the cosine between the two samples' MEAN
    vectors (directional shift; 1.0 = same direction) and (b) the
    ratio of their mean L2 norms (magnitude shift; 1.0 = same scale).

    ``sample_col`` boolean-like: true = sample A (reference), false =
    sample B (new). Mean-vector coordinates quantize to
    ``moment_round`` dp and per-row norms to 9 dp before their
    decimal-exact means (the repo-wide quantize-then-sum recipe), so
    both statistics replay bit-identically cross-engine.

    Shuffle shape at 100 TB: one ``posexplode`` → (group, sample,
    pos) mean — map-side combined, groups × 2 × dim cells — plus one
    (group, sample) scalar aggregate; the corpus is scanned once and
    only the tiny per-group centroid rows are joined. Groups where a
    side is empty surface NULL statistics via the full-outer join
    (one-sided data is a pipeline bug worth seeing, not dropping).
    Returns ``by… , n_a, n_b, mean_norm_a, mean_norm_b,
    centroid_cos, norm_ratio``.
    """
    by = list(by or [])
    flag = F.col(sample_col).cast("boolean")
    base = df.filter(F.col(vec_col).isNotNull()).select(
        *by, flag.alias("__s__"), F.col(vec_col).alias("__v__"),
    )
    scalars = (
        base.withColumn("__nrm__", F.round(_norm(F.col("__v__")), 9))
        .groupBy(*by, "__s__")
        .agg(
            F.count(F.lit(1)).alias("__n__"),
            F.round(
                F.sum(F.col("__nrm__").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                round_to,
            ).alias("__mnorm__"),
        )
    )
    coords = (
        base.select(*by, "__s__", F.posexplode(F.col("__v__")).alias("__pos", "__x"))
        .groupBy(*by, "__s__", "__pos")
        .agg(F.round(F.avg("__x"), moment_round).alias("__mu"))
        .groupBy(*by, "__s__")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__mu"))),
                lambda s: s["__mu"],
            ).alias("__c"),
        )
    )
    # Pin the per-(group, sample) moment table: both sample-side
    # filters read it — unpinned, the corpus scan + posexplode mean
    # executed twice over (4 parquet scans in the drift plan). The
    # pin is groups x 2 rows of dim-length centroid arrays, never the
    # vector corpus.
    sides = scalars.join(coords, [*by, "__s__"]).transform(pin)
    a = sides.filter(F.col("__s__")).select(
        *by,
        F.col("__n__").alias("n_a"),
        F.col("__mnorm__").alias("mean_norm_a"),
        F.col("__c").alias("__ca__"),
    )
    b = sides.filter(~F.col("__s__")).select(
        *by,
        F.col("__n__").alias("n_b"),
        F.col("__mnorm__").alias("mean_norm_b"),
        F.col("__c").alias("__cb__"),
    )
    # Full join in BOTH modes: a one-sided corpus (the new crawl never
    # arrived) must surface as NULL statistics, not an empty frame —
    # for the global (no-by) case the sides are ≤1-row frames, so the
    # TRUE-conditioned full join is a trivial 1×1 combine.
    joined = (
        a.join(b, by, "full") if by else a.join(b, F.lit(True), "full")
    )
    return joined.select(
        *by,
        "n_a",
        "n_b",
        "mean_norm_a",
        "mean_norm_b",
        F.round(cosine(F.col("__ca__"), F.col("__cb__")), round_to).alias(
            "centroid_cos",
        ),
        F.when(
            F.col("mean_norm_a") > 0,
            F.round(F.col("mean_norm_b") / F.col("mean_norm_a"), round_to),
        ).alias("norm_ratio"),
    )


def kmeans_profile(
    df: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    round_to: int = 6,
) -> DataFrame:
    """Cluster-quality profile for a k-means/IVF partition of an
    embedding corpus: per cell the member count and the mean cosine of
    members to their own centroid (cohesion — the monitoring readout
    for "are my topic clusters still tight" as a corpus grows).
    Compose with :func:`ivf_train_centroids` + :func:`ivf_assign`;
    with ``iters=0`` pinned-init centroids the whole pipeline is
    SQL-replayable (the ivf_topk_replay device).

    Per-member cosine is the deterministic left-fold dot of the
    unit-normalized vector against its (unit-norm) centroid, quantized
    to 9 dp, summed in decimal (order-independent), divided once —
    so the mean is engine-exact, not accumulation-order noise.

    100 TB posture: assignment is the Arrow-batched argmax UDF; the
    centroid table is k broadcast rows; ONE map-side-combined groupBy
    on the cell id. Nothing driver-side but the k centroids.
    """
    k, _dim = centroids.shape
    spark = df.sparkSession
    cent_rows = [
        (int(c), [float(x) for x in centroids[c]]) for c in range(k)
    ]
    cent_df = spark.createDataFrame(
        cent_rows, f"{cell_col} int, __centroid array<double>",
    )
    assigned = ivf_assign(
        normalize_vectors(df, vec_col), centroids, vec_col,
        out_col=cell_col,
    )
    cos9 = F.round(_dot(F.col(vec_col), F.col("__centroid")), 9)
    return (
        # broadcast: createDataFrame over driver rows is an RDD scan with no size statistic
        assigned.join(F.broadcast(cent_df), cell_col)
        .groupBy(cell_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(cos9.cast("decimal(38,9)")).cast("double")
                / F.count(F.lit(1)),
                round_to,
            ).alias("mean_cosine"),
        )
        .orderBy(cell_col)
    )


def truncate_normalize(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int = 16,
    out_col: str | None = None,
    normalize: bool = True,
) -> DataFrame:
    """Matryoshka-style embedding truncation: keep the first ``dim``
    components and (by default) re-normalize to unit length — the
    standard storage/compute cut for MRL-trained embedding models
    (Kusupati et al. 2022), where prefixes are trained to be usable
    representations. A 64→16 cut is 4× less ANN arithmetic and 4×
    smaller vectors; measure the retrieval cost with a recall query
    against the full-dimension top-k before adopting.

    Pure projection (slice + fold-norm + divide, all codegen): no
    shuffle, no Python. Vectors shorter than ``dim`` raise at runtime
    via an explicit ``assert_true`` guard — ``F.slice`` itself would
    silently return the shorter array (verified on pyspark 4.1.2 with
    ANSI on), which could mix dimensions downstream undetected. NULL
    vectors pass through as NULL (a missing embedding is the
    upstream's stated fact, not a length violation — the guard only
    polices vectors that exist).
    """
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    guard = F.assert_true(
        F.size(F.col(vec_col)) >= dim,
        F.concat(
            F.lit(f"truncate_normalize: vector shorter than dim={dim} (size="),
            F.size(F.col(vec_col)).cast("string"),
            F.lit(")"),
        ),
    )
    # CaseWhen short-circuits per row, so a NULL vector takes the
    # first branch and the assert never evaluates on it (assert_true
    # raises on NULL conditions, which would turn one missing
    # embedding into a job-killing 'shorter than dim' error).
    sliced = F.when(
        F.col(vec_col).isNull(),
        F.lit(None).cast("array<double>"),
    ).when(
        guard.isNull(),
        F.transform(F.slice(F.col(vec_col), 1, dim), lambda x: x.cast("double")),
    )
    if not normalize:
        return df.withColumn(out_col or vec_col, sliced)
    n = F.sqrt(
        F.aggregate(sliced, F.lit(0.0), lambda acc, x: acc + x * x),
    )
    unit = F.when(n == 0, sliced).otherwise(
        F.transform(sliced, lambda x: x / n),
    )
    return df.withColumn(out_col or vec_col, unit)


# ---------------------------------------------------------------------------
# Scalar (SQ8) embedding quantization
# ---------------------------------------------------------------------------

def sq8_train(
    df: DataFrame,
    vec_col: str = "embedding",
) -> list[tuple[float, float]]:
    """Learn per-DIMENSION affine SQ8 quantization parameters
    ``[(lo_d, step_d), …]`` from a corpus: ``lo_d`` / ``hi_d`` are the
    exact per-dimension min/max and ``step_d = (hi_d − lo_d)/255`` —
    256 levels per dimension, the classic corpus-trained
    scalar-quantization codec (the 4× memory cut beside
    :func:`pq_train`'s 32×, with far better per-dimension fidelity;
    :func:`quantize_int8` is the TRAINING-FREE per-vector symmetric
    variant for shuffle compression — this one learns per-dimension
    ranges from the corpus, the at-rest index codec).

    No reference counterpart — ANN-memory extension surface.

    100 TB posture: ONE corpus aggregation (posexplode → per-dim
    min/max, map-side combined to a dimension-cardinality frame); the
    collect is bounded by the MODEL (embedding dim), not the data —
    the same bounded-collect contract as the logreg model and the PQ
    codebooks. min/max are exact (no accumulation-order dependence),
    and the step division is one IEEE op, so any ANSI-SQL engine
    re-derives identical parameters.
    """
    rows = (
        df.select(F.posexplode(F.col(vec_col)).alias("__d__", "__x__"))
        .groupBy("__d__")
        .agg(
            F.min(F.col("__x__").cast("double")).alias("lo"),
            F.max(F.col("__x__").cast("double")).alias("hi"),
        )
        .collect()
    )
    if not rows:
        raise ValueError("sq8_train: empty corpus (no vectors)")
    by_dim = {int(r["__d__"]): (float(r["lo"]), float(r["hi"])) for r in rows}
    dim = max(by_dim) + 1
    if len(by_dim) != dim:
        raise ValueError(
            f"sq8_train: ragged embeddings (saw {len(by_dim)} of {dim} dims)",
        )
    return [
        (by_dim[d][0], (by_dim[d][1] - by_dim[d][0]) / 255.0)
        for d in range(dim)
    ]


def _sq8_params_lits(params) -> tuple:
    los = [float(lo) for lo, _ in params]
    steps = [float(st) for _, st in params]
    mk = lambda vs: F.expr(  # noqa: E731 — one SQL literal, not N py4j calls
        "array(" + ",".join(repr(v) for v in vs) + ")",
    )
    return mk(los), mk(steps)


def sq8_quantize(
    df: DataFrame,
    params,
    vec_col: str = "embedding",
    out_col: str = "codes",
) -> DataFrame:
    """Quantize an embedding column to SQ8 codes (``array<int>`` in
    [0, 255], one code per dimension) with :func:`sq8_train` params —
    a pure projection (no shuffle, no Python):
    ``code = clamp(round((x − lo)/step), 0, 255)``; a degenerate
    dimension (step 0) codes to 0. Codes are 4× smaller than float32
    at rest and reconstruct as ``lo + code·step``."""
    lo_lit, step_lit = _sq8_params_lits(params)
    idx = F.sequence(F.lit(1), F.size(F.col(vec_col)))
    code = lambda x, lo, st: F.when(  # noqa: E731
        st == 0.0, F.lit(0),
    ).otherwise(
        F.least(
            F.lit(255.0),
            F.greatest(F.lit(0.0), F.round((x.cast("double") - lo) / st, 0)),
        ),
    ).cast("int")
    return df.withColumn(
        out_col,
        F.transform(
            idx,
            lambda i: code(
                F.element_at(F.col(vec_col), i),
                F.element_at(lo_lit, i),
                F.element_at(step_lit, i),
            ),
        ),
    )


def sq8_dequantize_expr(codes, params) -> Column:
    """Reconstructed double vector from an SQ8 code column:
    ``lo_d + code·step_d`` per dimension — the array every downstream
    exact scorer (cosine/dot) consumes in place of the original."""
    lo_lit, step_lit = _sq8_params_lits(params)
    c = F.col(codes) if isinstance(codes, str) else codes
    idx = F.sequence(F.lit(1), F.size(c))
    return F.transform(
        idx,
        lambda i: F.element_at(lo_lit, i)
        + F.element_at(c, i).cast("double") * F.element_at(step_lit, i),
    )


def sq8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    params,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`brute_force_topk` over SQ8-RECONSTRUCTED vectors: both
    sides quantize with the shared ``params`` and score on the
    dequantized doubles, so the result is exactly what a code-at-rest
    index would return (the recall-vs-exact gap IS the quantization
    error, measurable against :func:`brute_force_topk` — see
    tests/test_recall.py). Same plan shape as the exact scorer:
    corpus never shuffles for scoring, one window shuffle for top-k."""
    q = (
        sq8_quantize(
            queries.select(F.col(query_id).alias("query_id"), F.col(query_vec)),
            params, query_vec, "__qc__",
        )
        .select(
            "query_id",
            sq8_dequantize_expr("__qc__", params).alias("__qv__"),
        )
        .withColumn("__qn__", _norm(F.col("__qv__")))
    )
    c = (
        sq8_quantize(
            corpus.select(F.col(corpus_id).alias("candidate_id"), F.col(corpus_vec)),
            params, corpus_vec, "__cc__",
        )
        .select(
            "candidate_id",
            sq8_dequantize_expr("__cc__", params).alias("__cv__"),
        )
        .withColumn("__cn__", _norm(F.col("__cv__")))
    )
    pre = (
        F.col("candidate_id") != F.col("query_id") if exclude_self else None
    )
    return _broadcast_cosine_topk(
        c, q, k, ["query_id", "candidate_id"], pre_filter=pre,
    )
