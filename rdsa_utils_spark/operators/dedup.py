"""Deduplication operators for training-data pipelines.

No reference equivalent (extension surface). Designed for 100 TB:
- ``exact_dedup`` — fingerprint (md5 of normalized text) + one
  hash-partitioned window; keeps the smallest id per fingerprint.
- ``minhash_signatures`` — per-doc MinHash signature in one Arrow
  pass: md5-based shingle hashes → seeded universal-hash permutations
  → vectorized segment minima. No shuffle; SQL-reproducible.
- ``lsh_candidate_pairs`` — banding: signature sliced into ``b`` bands,
  each band hashed, exploded, and self-joined on (band_id, band_hash).
  The join is an equi-join on a well-distributed hash — shuffles scale
  linearly; no O(n²) pair enumeration ever materializes outside a
  bucket.
- ``minhash_near_dedup`` — candidate pairs verified with exact shingle
  Jaccard, then connected docs removed (keep-min-id per duplicate
  cluster, one iteration — trades transitive-closure completeness for
  a bounded number of jobs; iterate if full closure is required).
- ``simhash_signatures`` — 64-bit SimHash via a vectorized pandas UDF
  (bit-vote majority; numpy over Arrow batches).
- ``ngram_jaccard_pairs`` — exact n-gram Jaccard for a candidate-pair
  frame (verification primitive).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.text import shingles, tokens, with_fingerprint
from rdsa_utils_spark.plans.tuning import pin


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    keep: str = "min",
) -> DataFrame:
    """Remove exact duplicates (normalized-text fingerprint), keeping
    the row with the min/max ``id_col`` per fingerprint group."""
    if keep not in {"min", "max"}:
        raise ValueError("exact_dedup: keep must be 'min' or 'max'")
    fp = with_fingerprint(df, text_col, "__fp__")
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    from pyspark.sql import Window

    w = Window.partitionBy("__fp__").orderBy(order)
    return (
        fp.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )


def dedup_against_corpus(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    keep: str = "min",
) -> DataFrame:
    """Incremental ingest dedup: drop rows of ``new_df`` whose exact
    fingerprint (md5 of normalized text — same digest as
    :func:`exact_dedup`) already exists in ``corpus_df``, then
    exact-dedup the survivors within the batch.

    The standard shape for a training corpus that grows by batches:
    the historical side reduces to DISTINCT 32-char digests before the
    join, so the anti-join shuffles fingerprints only — never document
    bodies — and the whole plan is two linear hash shuffles (corpus
    distinct + anti-join) plus the within-batch window. At 100 TB the
    corpus side is typically a persisted fingerprint table; pass it
    directly as ``corpus_df`` with ``text_col`` pointing at its text
    (or pre-computed digests re-derived the same way).
    """
    # Pin the fingerprinted batch: when new_df is a union (the normal
    # multi-source ingest shape), Catalyst pushes the anti-join
    # through the union and the corpus digest+distinct build side is
    # rebuilt under EVERY branch — 3 corpus md5 passes for a 3-part
    # batch. Pinned, the union materializes once and the anti-join
    # runs once against one corpus build. The pin stores one
    # incremental batch, never the corpus (the bloom sibling makes
    # the same trade).
    new_fp = with_fingerprint(new_df, text_col, "__fp__").transform(pin)
    corpus_fp = (
        with_fingerprint(corpus_df, text_col, "__fp__")
        .select("__fp__")
        .distinct()
    )
    fresh = new_fp.join(corpus_fp, "__fp__", "left_anti")
    if keep not in {"min", "max"}:
        raise ValueError("dedup_against_corpus: keep must be 'min' or 'max'")
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    from pyspark.sql import Window

    w = Window.partitionBy("__fp__").orderBy(order)
    return (
        fresh.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )


#: Modulus for MinHash universal hashing (2³¹−1, prime). Products
#: a·h with a,h < P stay below 2⁶², overflow-safe in int64/BIGINT.
MINHASH_P = 2_147_483_647


def minhash_coefficients(num_perm: int):
    """The (a_j, b_j) universal-hash coefficients used by
    :func:`minhash_signatures`, as two int64 numpy arrays.

    Exposed so an external checker (e.g. an ANSI-SQL oracle) can
    reproduce signatures bit-for-bit: seeded, so deterministic across
    processes and executors.
    """
    import numpy as np

    gen = np.random.default_rng(1_234_567)
    a_co = gen.integers(1, MINHASH_P, size=num_perm).astype(np.int64)
    b_co = gen.integers(0, MINHASH_P, size=num_perm).astype(np.int64)
    return a_co, b_co


def _shingle_hash_set(text: Optional[str], n: int):
    """``text``'s distinct word-``n``-gram shingles as md5 hashes (first
    8 digest bytes, little-endian, read as int64), sorted ascending.
    The one hashing primitive of :func:`minhash_signatures`,
    :func:`shingle_hash_sets` and :func:`_signatures_and_sets`."""
    import hashlib

    import numpy as np

    toks = (text or "").split()
    if not toks:
        return np.empty(0, dtype=np.int64)
    s = {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}
    h = np.fromiter(
        (int.from_bytes(hashlib.md5(x.encode("utf-8")).digest()[:8], "little") for x in s),
        dtype=np.uint64,
        count=len(s),
    ).view(np.int64)
    h.sort()
    return h


def _signature_rows(sets: list, num_perm: int):
    """MinHash signatures (one int64 row of ``num_perm`` per set) of
    shingle-hash sets: the minimum over each set of
    ``(a_j·(u mod p) + b_j) mod p``, ``u`` the unsigned shingle hash;
    an empty set gets the all-``p`` sentinel."""
    import numpy as np

    p = MINHASH_P
    a_co, b_co = minhash_coefficients(num_perm)
    sizes = np.fromiter((len(h) for h in sets), dtype=np.int64, count=len(sets))
    sigs = np.full((len(sets), num_perm), p, dtype=np.int64)
    nonempty = sizes > 0
    if nonempty.any():
        H = (np.concatenate(sets).view(np.uint64) % np.uint64(p)).astype(np.int64)
        starts = (np.cumsum(sizes) - sizes)[nonempty]
        for j in range(num_perm):
            sigs[nonempty, j] = np.minimum.reduceat((a_co[j] * H + b_co[j]) % p, starts)
    return sigs


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
    out_col: str = "minhash",
) -> DataFrame:
    """Attach a MinHash signature (array<bigint>, length ``num_perm``).

    Universal-hash permutations h_j = (a_j·h + b_j) mod p over md5-based
    64-bit shingle hashes, p = 2³¹−1 (products stay < 2⁶³: overflow-safe
    int64). Computed in ONE Arrow-vectorized pandas UDF per batch: all
    shingle hashes of the batch concatenate into one array and each
    permutation is a single vectorized ``(a·h+b) % p`` +
    ``np.minimum.reduceat`` over per-doc segments — num_perm passes over
    the batch, not per-doc Python work. (A pure-expression variant was
    ~10× slower: Spark's higher-order array functions are interpreted,
    not codegen'd.) Seeded coefficients → deterministic across runs and
    executors. Docs with no shingles get all-``p`` sentinel signatures.
    """
    n = shingle_n

    @F.pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        sets = [_shingle_hash_set(t, n) for t in texts]
        return pd.Series(list(_signature_rows(sets, num_perm)))

    return df.withColumn(out_col, _sig(F.col(text_col)))


def _signatures_and_sets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int,
    shingle_n: int,
) -> DataFrame:
    """(``id_col``, ``minhash``, ``shingle_hashes``): the signature of
    :func:`minhash_signatures` and the set of :func:`shingle_hash_sets`
    from ONE pandas UDF that hashes each shingle once."""
    n = shingle_n

    @F.pandas_udf("struct<minhash:array<long>,shingle_hashes:array<long>>")
    def _both(texts: pd.Series) -> pd.DataFrame:
        sets = [_shingle_hash_set(t, n) for t in texts]
        return pd.DataFrame({
            "minhash": list(_signature_rows(sets, num_perm)),
            "shingle_hashes": sets,
        })

    return df.select(F.col(id_col), _both(F.col(text_col)).alias("__both__")).select(
        id_col, "__both__.minhash", "__both__.shingle_hashes",
    )


def band_hash_rows(
    df: DataFrame,
    id_col: str,
    signature_col: str,
    num_bands: int,
    rows_per_band: int,
    out_id: str = "__id__",
) -> DataFrame:
    """One row per (doc, band): the 48-bit md5 band hash over the
    band's comma-joined signature values (first 12 hex digits parsed
    base-16 — narrow, uniform, and ANSI-SQL-reproducible). THE single
    definition of the band key: :func:`lsh_candidate_pairs` self-joins
    it and the streaming near-dup gate stores/probes it — the stored
    and probed hashes must be the same construction, so neither site
    may inline its own copy.

    Built as ONE SQL expression: a single parse, where the equivalent
    ``F.*`` construction made about 250 py4j round trips (16 bands).
    """

    def q(name: str) -> str:
        return "`" + name.replace("`", "``") + "`"

    structs = []
    for b in range(num_bands):
        vals = ", ".join(
            f"element_at({q(signature_col)}, {b * rows_per_band + r + 1})"
            for r in range(rows_per_band)
        )
        structs.append(
            f"named_struct('band', {b}, 'band_hash', "
            f"CAST(conv(substring(md5(concat_ws(',', {vals})), 1, 12), 16, 10) AS BIGINT))",
        )
    return df.selectExpr(
        f"{q(id_col)} AS {q(out_id)}", f"explode(array({', '.join(structs)})) AS bb",
    ).select(out_id, "bb.band", "bb.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    signature_col: str = "minhash",
    num_bands: int = 16,
    signature_length: Optional[int] = None,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding.

    Returns distinct (id_a, id_b) with id_a < id_b. Signature length
    must divide evenly into ``num_bands``. The only shuffle is the
    equi-join on (band, band_hash) — a uniform key, so no skew at
    scale unless a band value is degenerate (e.g. empty docs; filter
    them upstream).

    The band hash is the first 12 hex digits of md5 over the band's
    comma-joined signature values, parsed base-16 (48 bits — narrow
    join key, uniform, and — unlike ``xxhash64`` — reproducible in
    ANSI SQL, so the whole banding pipeline is oracle-checkable).

    Pass ``signature_length`` (you know it: it's ``num_perm``) to keep
    the plan fully lazy; otherwise one probe action reads it from the
    first row. The (small: id, band, hash) banded frame is pinned so
    the self-join's two sides don't recompute the signature pipeline.
    """
    if signature_length is None:
        sig_len_row = df.select(F.size(signature_col).alias("n")).first()
        if sig_len_row is None or sig_len_row["n"] is None:
            # Empty corpus (or NULL probe signature): no pairs — keep
            # the id column's ACTUAL type in the empty schema so
            # incremental runs with no new docs still union/join.
            return df.limit(0).select(
                F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b"),
            )
        signature_length = sig_len_row["n"]
    if num_bands < 1 or signature_length % num_bands != 0:
        # Silent truncation changes the effective similarity threshold,
        # and rows_per_band = 0 hashes EVERY doc to one constant band
        # value — an all-pairs cross join at corpus scale.
        raise ValueError(
            f"signature_length={signature_length} must divide evenly into "
            f"num_bands={num_bands} (rows_per_band >= 1)",
        )
    rows_per_band = signature_length // num_bands

    banded = band_hash_rows(
        df, id_col, signature_col, num_bands, rows_per_band,
    ).transform(pin)

    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            on=[
                F.col("l.band") == F.col("r.band"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.__id__") < F.col("r.__id__"),
            ],
        )
        .select(F.col("l.__id__").alias("id_a"), F.col("r.__id__").alias("id_b"))
        .distinct()
    )
    return pairs


def shingle_hash_sets(
    df: DataFrame,
    text_col: str,
    shingle_n: int = 3,
    out_col: str = "shingle_hashes",
) -> DataFrame:
    """Attach each doc's distinct word-``shingle_n``-gram set as a
    SORTED array of 64-bit md5 hashes (``array<long>``).

    One Arrow-vectorized pass; ~8 bytes per shingle instead of the
    shingle string itself, so downstream joins carry a narrow payload.
    Hashing is md5 first-8-bytes little-endian (the same primitive the
    SimHash oracle proved equal to DuckDB's ``md5_number_upper``), so
    set algebra over these arrays is ANSI-SQL-reproducible. Collisions
    are ~2⁻⁶⁴ per shingle pair — set sizes are exact in practice.
    """
    n = shingle_n

    @F.pandas_udf("array<long>")
    def _sh(texts: pd.Series) -> pd.Series:
        return pd.Series([_shingle_hash_set(t, n) for t in texts])

    return df.withColumn(out_col, _sh(F.col(text_col)))


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    sets_df: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for each (id_a, id_b) candidate pair.

    Each document is shingled ONCE per plan consumer
    (``shingle_hash_sets`` — a doc can appear in many candidate pairs,
    and round-1 profiling showed per-pair re-shingling was the single
    slowest bench line). The narrow (id, sorted-hash-array) frame
    joins to the pairs twice; |∩| is then ``size(array_intersect)``
    in the JVM, as in :func:`containment_pairs`, so the pair side runs
    no Python stage. |A∪B| = |A|+|B|−|∩|, so jaccard is a ratio of
    exact integers, bit-identical to the ANSI-SQL oracle; two empty
    sets score 0.

    Without ``sets_df`` the sets come from the plain ``df``, unpinned:
    both attach joins then read one subtree, and when the corpus is
    small Catalyst plans them as broadcast hash joins over ONE shared
    broadcast exchange (ReusedExchange), so the shingle UDF runs once
    and the pairs never shuffle. At 100 TB the optimizer falls back to
    sort-merge and the UDF would run once per join side, so callers
    that already hold the sets pass ``sets_df`` (id, sorted hash
    array; as :func:`shingle_hash_sets`, pinned where its lifetime is
    known), as :func:`minhash_near_dedup` does.
    """
    if sets_df is None:
        from rdsa_utils_spark.plans.tuning import ensure_parallelism

        sets_df = shingle_hash_sets(
            ensure_parallelism(df.select(F.col(id_col), F.col(text_col))),
            text_col,
            shingle_n,
            "__sh__",
        ).select(F.col(id_col).alias("__tid__"), "__sh__")
    else:
        id_c, sh_c = sets_df.columns[0], sets_df.columns[1]
        sets_df = sets_df.select(
            F.col(id_c).alias("__tid__"), F.col(sh_c).alias("__sh__"),
        )
    # Join on explicit conditions and project AFTER each join so both
    # join sides reference the same sets_df subtree.
    sa = sets_df.alias("__sa_side__")
    sb = sets_df.alias("__sb_side__")
    out = (
        pairs
        .join(sa, F.col("id_a") == F.col("__sa_side__.__tid__"))
        .withColumnRenamed("__sh__", "__sa__")
        .drop("__tid__")
        .join(sb, F.col("id_b") == F.col("__sb_side__.__tid__"))
        .withColumnRenamed("__sh__", "__sb__")
        .drop("__tid__")
    )
    inter = F.size(F.array_intersect("__sa__", "__sb__"))
    union = F.size("__sa__") + F.size("__sb__") - inter
    return out.withColumn(
        "jaccard",
        F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0)),
    ).drop("__sa__", "__sb__")


def minhash_near_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    shingle_n: int = 3,
    num_bands: int = 16,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-dup removal: MinHash → LSH candidates → exact Jaccard
    verify → drop the larger id of each confirmed pair.

    One-iteration policy: every doc that is the greater id in any
    confirmed duplicate pair is dropped (anti-join). For a full
    transitive closure run this to a fixed point — each iteration is a
    bounded set of shuffles, preferable at scale to an unbounded
    connected-components job when duplicate clusters are shallow.

    One Python pass: a single pandas UDF over the representative docs
    hashes each shingle once and returns both the MinHash signature
    and the sorted shingle-hash set (bit-identical to
    :func:`minhash_signatures` and :func:`shingle_hash_sets`). That
    frame is pinned and feeds both the LSH banding and the exact
    Jaccard verify (``ngram_jaccard_pairs(sets_df=...)``, computed in
    the JVM); only the UDF's input is spread over the cores.

    Blank/NULL documents are excluded from the LSH stage — they all
    share the sentinel all-``p`` signature, so one band bucket would
    otherwise hold every blank doc and the self-join would go
    quadratic in their count; since their verified Jaccard is 0 they
    could never be dropped anyway, they survive near-dedup unchanged
    (route them through :func:`exact_dedup`, which removes identical
    blanks by content hash).

    EXACT-duplicate collapse (round-11, output-identical): LSH runs
    over one min-id REPRESENTATIVE per byte-identical text. Identical
    texts have identical shingle sets and identical signatures, so
    (a) every non-minimal member of an exact-dup group always
    co-buckets with its representative in every band and verifies at
    Jaccard 1 ≥ threshold — the all-pairs semantics drops it
    unconditionally — and (b) any member's candidate/verify relation
    to an outside doc equals its representative's, with the
    representative carrying the smaller id; so collapsing changes no
    survivor. What it changes is cost: within-bucket pair counts fall
    quadratically in exact-dup group size — the mega-cluster pathology
    of real crawled corpora, where one boilerplate page repeated 10⁶×
    would otherwise put 10¹²/2 pairs through verification (measured on
    the 50 %-duplicated adversarial corpus, SCALE_PROBE_ADVERSARIAL).
    """
    from rdsa_utils_spark.plans.tuning import ensure_parallelism

    if not (0.0 < jaccard_threshold <= 1.0):
        # the exact-collapse equivalence needs J=1 ≥ threshold; values
        # outside (0,1] are meaningless for a Jaccard gate anyway
        raise ValueError(
            f"jaccard_threshold must be in (0, 1], got {jaccard_threshold}",
        )
    from pyspark.sql import Window

    eligible = df.filter(F.length(F.trim(F.col(text_col))) > 0)
    # The collapse's only wide operation is a NARROW window: the
    # shuffle carries (id, 16-byte digest) rows, never text or
    # signatures. Non-minimal members of each identical-text group
    # come out as exact_losers; the representatives then prune via an
    # anti-join that AQE plans as a broadcast in the common low-dup
    # case (the loser frame is small exactly when collapsing saves
    # little, and large exactly when it saves quadratically).
    exact_losers = (
        eligible.select(
            F.col(id_col),
            F.md5(F.col(text_col).cast("binary")).alias("__fp__"),
        )
        .withColumn(
            "__rn__",
            F.row_number().over(
                Window.partitionBy("__fp__").orderBy(F.col(id_col).asc()),
            ),
        )
        .filter(F.col("__rn__") > 1)
        .select(id_col)
        # Pinned: this loser-id frame feeds BOTH the representative
        # anti-join (executed while materializing the signature pin)
        # and the final loser union — without the pin the
        # scan+md5+window subtree executes once per consumer. The frame
        # stores only the ids of non-minimal exact-dup members: empty
        # when there are no exact dups, and exactly the rows the
        # collapse removes when there are — never corpus-sized.
        .transform(pin)
    )
    rep_docs = ensure_parallelism(
        eligible.select(F.col(id_col), F.col(text_col)),
    ).join(exact_losers, id_col, "left_anti")
    # Pinned: the banding and both verify-join sides read it.
    hashed = _signatures_and_sets(
        rep_docs, id_col, text_col, num_perm, shingle_n,
    ).transform(pin)
    candidates = lsh_candidate_pairs(
        hashed, id_col, "minhash", num_bands, signature_length=num_perm,
    )
    verified = ngram_jaccard_pairs(
        rep_docs, candidates, id_col, text_col, shingle_n,
        sets_df=hashed.drop("minhash"),
    ).filter(F.col("jaccard") >= jaccard_threshold)
    losers = (
        verified.select(F.col("id_b").alias(id_col))
        .unionByName(exact_losers)
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def simhash_signatures(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash per document (vectorized pandas UDF).

    Token hashes vote per bit; majority sets the bit. Arrow-batched —
    the Python cost is one numpy pass per batch, not per row.
    """

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np

        bit_idx = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").lower().split()
            if not toks:
                continue
            # Deterministic 64-bit token hashes (NOT Python hash(),
            # which is salted per process).
            hashes = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(tok.encode("utf-8")).digest()[:8], "little")
                    for tok in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            bits = (hashes[:, None] >> bit_idx[None, :]) & np.uint64(1)
            votes = np.where(bits.astype(bool), 1, -1).sum(axis=0)
            sig = np.uint64(0)
            for b in range(64):
                if votes[b] > 0:
                    sig |= np.uint64(1) << np.uint64(b)
            out[i] = np.int64(sig.astype(np.int64))
        return pd.Series(out)

    return df.withColumn(out_col, _simhash(F.col(text_col)))


def _doc_shingle_hashes(
    df: DataFrame, id_col: str, text: str, n: int, hash_hex_digits: int,
) -> DataFrame:
    """Distinct-able (id, 60-bit shingle hash) rows for
    :func:`ngram_contamination` and the streaming contamination gate —
    ONE definition, since a drifted copy would silently stop matching
    reference hashes. Shingles via posexplode + lead() windows rather
    than the array higher-order functions in :func:`shingles` — HOF
    expressions are interpreted (not codegen'd) and measured ~10×
    slower for per-doc array work; every expression here stays inside
    whole-stage codegen. Semantics: k ≥ n → k−n+1 shingles;
    0 < k < n → one whole-text shingle (concat_ws skips the NULL leads
    past the end); k = 0 → none."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__p__")
    grams = [F.col("__t__")] + [F.lead("__t__", i).over(w) for i in range(1, n)]
    k = F.count("*").over(Window.partitionBy(id_col))
    hashed = F.conv(
        F.substring(F.md5("__sh__"), 1, hash_hex_digits), 16, 10,
    ).cast("long")
    return (
        df.select(F.col(id_col), F.posexplode(tokens(text)).alias("__p__", "__t__"))
        .withColumn("__k__", k)
        .withColumn("__sh__", F.concat_ws(" ", *grams))
        .filter((F.col("__p__") + n <= F.col("__k__")) | (F.col("__p__") == 0))
        .select(id_col, hashed.alias("__h__"))
    )


def reference_shingle_hashes(
    reference: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_hex_digits: int = 15,
) -> DataFrame:
    """The benchmark/eval side of :func:`ngram_contamination` as a
    standalone frame: the reference corpus reduced to its DISTINCT
    60-bit shingle hashes (one ``__h__`` column). Compute it once and
    pin it when many batches probe the same benchmark set — the
    streaming contamination gate's construction step."""
    return (
        _doc_shingle_hashes(reference, id_col, text_col, n, hash_hex_digits)
        .select("__h__")
        .dropDuplicates(["__h__"])
    )


def ngram_contamination(
    corpus: DataFrame,
    reference: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref_text_col: Optional[str] = None,
    hash_hex_digits: int = 15,
) -> DataFrame:
    """Benchmark-contamination detector: for every corpus document,
    the fraction of its distinct word ``n``-gram shingles that appear
    anywhere in the ``reference`` corpus (e.g. an eval/test set).
    Returns (``id_col``, n_shingles, n_contaminated, contamination),
    one row per corpus document with at least one shingle.

    No reference counterpart — extension surface for training-data
    hygiene, the n-gram-overlap decontamination step described in
    public LLM training reports.

    100 TB posture: shingles are hashed JVM-side to 60-bit longs
    (md5 prefix parsed base-16 — same primitive as
    :func:`lsh_candidate_pairs`, so oracle-reproducible in ANSI SQL;
    powers of 16 are powers of 2, exact in the double arithmetic both
    engines use). Both sides aggregate to distinct narrow (id, hash) /
    (hash) rows before the one semi-join; the reference side is
    typically small (an eval suite) and broadcasts, so the corpus
    never shuffles twice — counts and the join reuse the same
    hash-partitioning on ``id_col``.
    """
    text_of = ref_text_col or text_col

    # One pass over the corpus: distinct (doc, hash) rows left-join the
    # distinct reference hash set with a hit marker, then a single
    # aggregation yields both the denominator and the hit count —
    # nothing in the plan evaluates the shingle pipeline twice. The
    # reference set stays un-hinted: AQE converts the join to broadcast
    # at runtime when the eval suite is small (the common case).
    return contamination_scores(
        corpus,
        reference_shingle_hashes(
            reference, n=n, id_col=id_col, text_col=text_of,
            hash_hex_digits=hash_hex_digits,
        ),
        n=n, id_col=id_col, text_col=text_col,
        hash_hex_digits=hash_hex_digits,
    )


def contamination_scores(
    corpus: DataFrame,
    reference_hashes: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_hex_digits: int = 15,
) -> DataFrame:
    """:func:`ngram_contamination` against a PRECOMPUTED
    :func:`reference_shingle_hashes` frame — the reusable half the
    streaming gate probes every micro-batch (pin the reference once;
    re-shingling the benchmark set per batch would be pure waste).
    ``n``/``hash_hex_digits`` must match the values the reference was
    hashed with."""
    c = _doc_shingle_hashes(
        corpus, id_col, text_col, n, hash_hex_digits,
    ).dropDuplicates([id_col, "__h__"])
    r = reference_hashes.select("__h__").withColumn("__hit__", F.lit(1))
    return (
        c.join(r, "__h__", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("__hit__"), F.lit(0)).alias("n_contaminated"),
        )
        .select(
            id_col,
            "n_shingles",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 6).alias(
                "contamination",
            ),
        )
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    max_driver_edges: int = 1_000_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph: returns
    (``id``, ``cluster_id``) for every node appearing in ``pairs``,
    where ``cluster_id`` is the smallest node id in the component.

    This closes the transitive gap of the one-iteration anti-join
    policy in :func:`minhash_near_dedup`: A~B and B~C land in one
    cluster even when A~C was never emitted as a pair. Downstream
    dedup keeps ``id == cluster_id`` (the canonical representative)
    and drops the rest.

    Algorithm: min-label propagation WITH pointer jumping. Labels
    start as each node's own id; each round every node takes the min
    of its own and its neighbours' labels, then shortcuts through its
    label's label (``label(v) ← label(label(v))`` — path doubling, a
    plain self-join on the label frame). Labels only ever decrease,
    so an unchanged global label sum is exact convergence, checked
    with one scalar action per round.

    100 TB posture: per round, one shuffle join of the edge list with
    the label frame on the source id plus one min-aggregation — both
    hash-partitioned on the same key, so AQE coalesces them into the
    same exchange layout — plus one label-frame self-join (O(nodes),
    cheap next to the edge join). A pin after every
    round keeps the plan one scan deep (the driver loop is the
    legitimate iterative pattern; per-round driver traffic is one
    scalar).
    Pointer jumping makes rounds O(log diameter) instead of
    O(diameter): percolated graphs (random-geometric near-dup edges,
    long template chains) converge in ~8 rounds where pure
    propagation needed hundreds.
    """
    # Lazy pins throughout (round-12 optimization): the per-round
    # convergence sum is the ONLY action, and it materializes the
    # whole round's chain — edge join, min-agg, pointer jump — as ONE
    # Spark job. The former eager=True pattern paid two jobs per round
    # (pin + sum) and, because the pointer-jump self-join references
    # ``propagated`` twice without a pin, executed the edge join +
    # aggregation TWICE per round. Pinning ``propagated`` lazily makes
    # it a single shared RDD node in the round's DAG: computed once,
    # read by both join sides.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .dropDuplicates(["src", "dst"])
        .transform(pin)
    )
    if max_driver_edges:
        # Driver fast path (round-12; the bpe/BT/doremi capped-collect
        # device): min-label connected components is pure integer
        # union-find, and below ``max_driver_edges`` symmetrized edges
        # the distributed rounds are almost entirely exchange-stage
        # latency (~4 shuffles per round for a label frame that fits
        # in kilobytes at bench scale). One Arrow toPandas of the
        # (src, dst) edge list — narrow, capped, docstring-declared —
        # plus a Python union-find produces the IDENTICAL (id,
        # min-component-id) table: same node set, same components,
        # same min-id label. Engaged only when every edge endpoint is
        # non-NULL: a NULL endpoint creates a distributed-path
        # "supernode" row (all NULLs group together, labelled the min
        # of their neighbours' converged labels) whose semantics the
        # fixpoint alone defines — such inputs, and anything over the
        # cap, take the distributed rounds unchanged. The single agg
        # below both sizes/screens the edge list and materializes the
        # lazy pin. Pass 0 to force the distributed rounds.
        st = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("src").alias("ns"),
            F.count("dst").alias("nd"),
        ).first()
        if st["n"] <= max_driver_edges and st["ns"] == st["n"] == st["nd"]:
            pdf = edges.toPandas()
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for s, d in zip(pdf["src"], pdf["dst"]):
                s = s.item() if hasattr(s, "item") else s
                d = d.item() if hasattr(d, "item") else d
                if s not in parent:
                    parent[s] = s
                if d not in parent:
                    parent[d] = d
                rs, rd = find(s), find(d)
                if rs != rd:
                    parent[max(rs, rd)] = min(rs, rd)
            out = sorted((node, find(node)) for node in parent)
            spark = pairs.sparkSession
            from pyspark.sql import types as T

            id_type = edges.schema["src"].dataType
            schema = T.StructType([
                T.StructField("id", id_type, True),
                T.StructField("cluster_id", id_type, True),
            ])
            return spark.createDataFrame(out, schema)

    labels = (
        edges.select(F.col("src").alias("id"))
        .dropDuplicates(["id"])
        .withColumn("label", F.col("id"))
        .transform(pin)
    )
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(max_iterations):
        neighbour = edges.join(
            labels.withColumnRenamed("id", "src"), "src",
        ).select(F.col("dst").alias("id"), "label")
        propagated = (
            labels.select("id", "label")
            .union(neighbour)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
            .transform(pin)
        )
        # Pointer jumping: label(v) ← label(label(v)). Every label IS
        # a node id present in the frame (it is a min over member
        # ids), so the inner self-join is total; label(u) ≤ u makes
        # the shortcut monotone — no extra min needed.
        labels = (
            propagated.join(
                propagated.select(
                    F.col("id").alias("label"),
                    F.col("label").alias("__jump__"),
                ),
                "label",
            )
            .select("id", F.col("__jump__").alias("label"))
            .transform(pin)
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            return labels.select("id", F.col("label").alias("cluster_id"))
        prev_sum = new_sum
    raise RuntimeError(
        f"dedup_clusters did not converge in {max_iterations} iterations; "
        "raise max_iterations (component diameter exceeds the cap)",
    )


def dedup_against_corpus_bloom(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str,
    id_col: str,
    keep: str = "min",
    expected_items: int = 1_000_000,
    fpp: float = 0.01,
    max_bloom_bytes: int = 64 << 20,
) -> DataFrame:
    """:func:`dedup_against_corpus` with a Bloom prefilter — identical
    results, different shuffle profile.

    The plain version anti-joins EVERY new-batch fingerprint against
    the corpus digest table: at 100 TB that shuffles the full batch
    even when duplicates are rare. Here the corpus digests build a
    Bloom filter out of pure DataFrame ops (OSS Spark does not expose
    ``bloom_filter_agg`` to SQL): each digest sets ``k`` seeded
    ``xxhash64`` bit positions, a ``bit_or`` aggregation packs them
    into 64-bit words map-side (at most ``m/64`` compact partial rows
    per partition), and the driver densifies the sparse words into one
    ``array<long>`` bitmap — exactly ``m/8`` bytes, the same payload a
    native Bloom broadcast would carry. The bitmap rides a 1-row
    broadcast; membership is ``k`` ``getbit(element_at(...))``
    expressions inside whole-stage codegen. Rows the filter rejects
    are DEFINITE non-duplicates and bypass the anti-join shuffle
    entirely; the positives — true dups + ~``fpp`` false positives —
    reach the exact anti-join that removes Bloom error. With a 1%
    duplicate rate, ~99% of the batch never shuffles.

    Size the filter for the CORPUS digest cardinality
    (``expected_items``): bitmap bytes ≈ ``1.2 × expected_items`` at
    1% fpp, capped by ``max_bloom_bytes`` (default 64 MiB ≈ a 55M-item
    corpus; beyond that, undersize the filter — still correct, more
    false positives — or fall back to :func:`dedup_against_corpus`).
    An undersized filter stays correct but lets more false positives
    through to the join. Within-batch dedup is the same keep-min/max
    window as :func:`exact_dedup`.
    """
    from rdsa_utils_spark.functions.bloom import (
        bloom_params,
        bloom_probe_expr,
        build_bloom_bitmap,
    )

    if keep not in {"min", "max"}:
        raise ValueError("dedup_against_corpus_bloom: keep must be 'min' or 'max'")
    m_bits, k_hashes = bloom_params(expected_items, fpp)
    if m_bits // 8 > max_bloom_bytes:
        raise ValueError(
            f"bloom bitmap would be {m_bits // 8} bytes for "
            f"expected_items={expected_items}, over max_bloom_bytes="
            f"{max_bloom_bytes}; lower expected_items (more false "
            f"positives, still exact) or use dedup_against_corpus",
        )

    new_fp = with_fingerprint(new_df, text_col, "__fp__")
    corpus_fp = (
        with_fingerprint(corpus_df, text_col, "__fp__")
        .select("__fp__")
        .distinct()
    )

    # Build + probe via the shared primitives (functions/bloom.py):
    # bit_or packs map-side, the bitmap rides a 1-row broadcast, and
    # membership is k getbit lookups inside whole-stage codegen.
    bitmap = build_bloom_bitmap(corpus_fp, "__fp__", m_bits, k_hashes)
    maybe = bloom_probe_expr("__fp__", m_bits, k_hashes)
    # Pinned: flagged feeds BOTH the definite-fresh branch and the
    # maybe-side anti-join, so an unpinned frame runs the whole
    # normalize+md5 fingerprint pass over the batch twice. The pin
    # stores one incremental batch INCLUDING payload columns (never
    # the corpus) — cheaper than a second full fingerprint scan.
    flagged = (
        # broadcast: the bitmap is driver-built rows, an RDD scan with no size statistic
        new_fp.join(F.broadcast(bitmap))
        .withColumn("__maybe__", maybe)
        .drop("__bloom__")
        .transform(pin)
    )
    definite_fresh = flagged.filter(~F.col("__maybe__")).drop("__maybe__")
    candidates = (
        flagged.filter(F.col("__maybe__"))
        .drop("__maybe__")
        .join(corpus_fp, "__fp__", "left_anti")
    )
    fresh = definite_fresh.unionByName(candidates)
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    from pyspark.sql import Window

    w = Window.partitionBy("__fp__").orderBy(order)
    return (
        fresh.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__fp__", "__rn__")
    )




def jaccard_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
) -> DataFrame:
    """EXACT set-similarity self-join: all document pairs whose
    distinct-word-set Jaccard is ≥ ``threshold``. Returns
    (``id_a``, ``id_b``, ``jaccard``) with ``id_a < id_b`` and the
    score rounded to 6 dp.

    This is the prefix-filtering family (PPJoin; Xiao et al. 2011) —
    a deterministic, no-false-negative alternative to MinHash banding
    (:func:`lsh_candidate_pairs`): two sets with Jaccard ≥ t MUST
    share a token within the first ``|x| - ⌈t·|x|⌉ + 1`` tokens of any
    agreed global token order. Ordering by ascending corpus frequency
    makes those prefix tokens the RAREST ones, so the candidate
    equi-join on prefix-token blocks stays near-linear instead of
    quadratic; a length-ratio filter (``t·|a| ≤ |b|``) prunes further
    before the exact verify.

    Plan shape at 100 TB: documents sharing an IDENTICAL token set
    collapse to one representative first (md5 of the sorted set — in
    a template-heavy corpus identical docs are THE dominant duplicate
    structure, and their pair set is inherently quadratic); the PPJoin
    machinery then runs over distinct sets only. Clique-internal pairs
    (Jaccard exactly 1) and cross-clique expansions are emitted as
    bare id pairs — token arrays are never shuffled onto the
    (possibly quadratic) pair stream, only onto distinct-set
    candidates. Then: one explode + token-frequency join + per-doc
    re-sort (hash shuffles on token and id), a candidate equi-join on
    prefix token (never the full token stream — bare (token, id, n)
    triples), pair distinct, then ONE join back to attach both token
    arrays and an ``array_intersect`` verify in the JVM. No window,
    no cartesian, no Python. The exact output also means an external
    engine can replay it all-pairs — the oracle for this operator is
    brute force, which is the point: same answer, quadratic vs
    near-linear candidate cost.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from rdsa_utils_spark.operators.text import tokens as _tok

    keyed = (
        df.select(
            F.col(id_col).alias("__id"),
            F.array_distinct(_tok(F.col(text_col))).alias("__tk"),
        )
        .filter(F.size("__tk") > 0)
        .withColumn(
            "__k", F.md5(F.concat_ws("\x1f", F.array_sort("__tk"))),
        )
        # Pin the tokenize+md5 projection ONCE: it feeds the member
        # map AND the representative groupBy — pinning each consumer
        # separately (pre-r12) materialized this scan twice.
        .transform(pin)
    )
    members = keyed.select("__k", "__id")
    # one representative (smallest id) per distinct token SET
    base = (
        keyed.groupBy("__k")
        .agg(F.min(F.struct("__id", "__tk")).alias("__s"))
        .select(
            F.col("__s.__id").alias("__id"),
            F.col("__s.__tk").alias("__tk"),
            "__k",
        )
        .transform(pin)
    )
    rep_map = base.select("__k", F.col("__id").alias("__rid"))
    # identical sets: every within-clique pair is Jaccard exactly 1.0
    ma = members.select("__k", F.col("__id").alias("id_a"))
    mb = members.select("__k", F.col("__id").alias("id_b"))
    intra = (
        ma.join(mb, "__k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.lit(1.0).alias("jaccard"))
    )
    base = base.drop("__k")

    # Global token order = (corpus frequency asc, token asc). Rare
    # tokens first ⇒ smallest candidate blocks. The order only needs
    # to be CONSISTENT for correctness; frequency is the optimization.
    freq = (
        base.select(F.explode("__tk").alias("__t"))
        .groupBy("__t")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    sorted_docs = (
        base.select("__id", F.explode("__tk").alias("__t"))
        .join(freq, "__t")
        .groupBy("__id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__f", "__t"))),
                lambda s: s["__t"],
            ).alias("__tk"),
        )
        .withColumn("__n", F.size("__tk"))
        # Pin the frequency-sorted token arrays: this subtree (full
        # explode → freq join → collect_list shuffle) feeds the prefix
        # explode AND both verify-join sides — without the pin
        # Catalyst re-executes the whole pipeline three times (same
        # re-run hazard bm25_topk/tf_idf_top_terms pin for).
        .transform(pin)
    )
    # Prefix length L = n - ceil(t·n) + 1; round before ceil so binary
    # float noise (0.9·10 = 9.000000000000002) can never SHORTEN the
    # prefix, which would create false negatives.
    prefix_len = (
        F.col("__n")
        - F.ceil(F.round(F.lit(threshold) * F.col("__n"), 6)).cast("int")
        + F.lit(1)
    )
    prefixes = sorted_docs.select(
        "__id",
        "__n",
        F.posexplode(F.slice("__tk", 1, prefix_len)).alias("__p", "__t"),
    )
    a = prefixes.select(
        F.col("__id").alias("id_a"), F.col("__n").alias("__na"),
        F.col("__p").alias("__pa"), "__t",
    )
    b = prefixes.select(
        F.col("__id").alias("id_b"), F.col("__n").alias("__nb"),
        F.col("__p").alias("__pb"), "__t",
    )
    # Positional filter (PPJoin): a token shared at (0-based) prefix
    # positions (pa, pb) caps the overlap at 1 + min(remaining tokens
    # on each side); pairs whose cap can't reach the required overlap
    # α = ⌈t/(1+t)·(na+nb)⌉ are pruned BEFORE the distinct + verify.
    # Lossless: the first-in-global-order shared token of any
    # qualifying pair satisfies the bound, and keeping a pair when ANY
    # occurrence passes is a superset of that.
    alpha = F.ceil(
        F.round(
            F.lit(threshold / (1.0 + threshold))
            * (F.col("__na") + F.col("__nb")),
            6,
        ),
    )
    ubound = 1 + F.least(
        F.col("__na") - F.col("__pa") - 1,
        F.col("__nb") - F.col("__pb") - 1,
    )
    cands = (
        a.join(b, "__t")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            # Jaccard ≥ t forces t·|a| ≤ |b| ≤ |a|/t for either order.
            & (F.round(F.lit(threshold) * F.col("__na"), 6) <= F.col("__nb"))
            & (F.round(F.lit(threshold) * F.col("__nb"), 6) <= F.col("__na"))
            & (ubound >= alpha)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    ta = sorted_docs.select(F.col("__id").alias("id_a"), F.col("__tk").alias("__ta"))
    tb = sorted_docs.select(F.col("__id").alias("id_b"), F.col("__tk").alias("__tb"))
    inter = F.size(F.array_intersect("__ta", "__tb"))
    union = F.size("__ta") + F.size("__tb") - inter
    rep_pairs = (
        cands.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.round(inter.cast("double") / union, 6) + F.lit(0.0)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # fan each qualifying representative pair back out to every member
    # pair of the two cliques — bare ids + the (set-determined) score,
    # no array payloads on the expanded stream
    cross = (
        rep_pairs.join(
            rep_map.select(
                F.col("__rid").alias("id_a"), F.col("__k").alias("__ka"),
            ),
            "id_a",
        )
        .join(
            rep_map.select(
                F.col("__rid").alias("id_b"), F.col("__k").alias("__kb"),
            ),
            "id_b",
        )
        .join(
            members.select(
                F.col("__k").alias("__ka"), F.col("__id").alias("__ma"),
            ),
            "__ka",
        )
        .join(
            members.select(
                F.col("__k").alias("__kb"), F.col("__id").alias("__mb"),
            ),
            "__kb",
        )
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "jaccard",
        )
    )
    return cross.unionByName(intra)


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_tokens: int = 10,
) -> DataFrame:
    """Corpus-level duplicated-span removal: split every document into
    non-overlapping blocks of ``block_tokens`` whitespace tokens, keep
    only the FIRST occurrence of each distinct block across the whole
    corpus (ordered by (id, block position)), and reassemble each
    document from its surviving blocks.

    A scalable approximation of exact substring deduplication (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): the suffix-array approach finds arbitrary repeated
    substrings, which needs a global sort of every suffix; aligning to
    fixed token blocks turns the problem into an exact group-by on
    block text — one linear shuffle — at the cost of missing repeats
    that straddle a block boundary or are shorter than a block.

    Returns (``id``, ``n_blocks``, ``n_kept``, ``dedup_text``) where
    ``dedup_text`` is the surviving blocks re-joined with single
    spaces (empty string if every block was a repeat). Documents with
    ZERO tokens (blank/NULL text) produce no blocks and are absent
    from the output — left-join back to the corpus by id if every
    document must appear.

    Plan shape at 100 TB: tokenize + block assembly are per-row JVM
    expressions (no Python); one explode to (id, block_idx, block);
    first-occurrence selection is ``min(struct(id, idx))`` per block
    text — a hash aggregation on a well-distributed string key with
    map-side partial aggregation, NOT a window; one join back on the
    block key and one final group-by per doc. Three linear shuffles
    total, no skew hazard beyond genuinely mega-duplicated blocks
    (which AQE skew handling splits).

    No reference equivalent (extension surface).
    """
    if block_tokens < 1:
        raise ValueError(f"block_tokens must be >= 1, got {block_tokens}")
    k = block_tokens
    # Token-less (blank/NULL) documents are excluded by a CHEAP raw-text
    # predicate, not by filtering on the derived block array: a filter
    # on size(__blocks) gets predicate-pushed below every projection
    # with the whole tokenize+slice HOF expression INLINED into the
    # filter condition — the block assembly then runs once in the
    # pushed filter and again in the projection, on the scan side of
    # any exchange (single-threaded on unsplittable inputs), in every
    # branch that scans the corpus. length(trim(text)) > 0 is exactly
    # size(tokens) > 0 by the tokens() contract (empty/blank/NULL →
    # empty array) and costs one trim per row.
    with_toks = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk"),
    )
    tk = F.col("__tk")
    n_blocks = F.ceil(F.size(tk) / F.lit(k)).cast("int")
    # Guard the token-less case explicitly: Spark's sequence(0, -1)
    # DESCENDS (yielding [0, -1]), which would fabricate empty blocks
    # and feed slice() an illegal start of 0. (Unreachable after the
    # raw-text filter above, but kept so the expression is total.)
    blocks = F.when(
        n_blocks <= 0, F.array().cast("array<string>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(F.slice(tk, i * k + 1, k), " "),
        ),
    )
    # Pin the block frame before exploding (round-12, measured at
    # bench scale): a posexplode whose generator input is the
    # transform(...) projection fuses the HOF into the Generate node,
    # kicking the whole tokenize+slice pipeline out of codegen (≈5×
    # slower than evaluating the projection once), and the two
    # consumers below (first-occurrence aggregate and the kept join
    # probe) would each re-run it. The lazy pin
    # materializes (id, blocks) exactly once — the same
    # pin-the-reduced-frame trade as train_logreg_hashed's
    # cache_features: the pinned frame is the tokenized corpus, the
    # same magnitude this operator shuffles anyway.
    pinned = with_toks.select(
        "__id", blocks.alias("__blocks"),
    ).transform(pin)
    # posexplode of an empty array emits no rows, so no explicit
    # size(__blocks) > 0 filter is needed here.
    exploded = pinned.select(
        "__id", F.posexplode("__blocks").alias("__idx", "__block"),
    )
    # First occurrence of each distinct block: an aggregation, not a
    # window — struct min orders by (__id, __idx) lexicographically.
    first = (
        exploded.groupBy("__block")
        .agg(F.min(F.struct("__id", "__idx")).alias("__first"))
        .select(
            "__block",
            F.col("__first.__id").alias("__fid"),
            F.col("__first.__idx").alias("__fidx"),
        )
    )
    kept = exploded.join(first, "__block").filter(
        (F.col("__id") == F.col("__fid")) & (F.col("__idx") == F.col("__fidx")),
    )
    # n_blocks is the pinned block-array size — a projection on the
    # pinned frame, not a third explode+aggregate branch over the
    # corpus (count(1) over exploded blocks equals size(__blocks)
    # exactly for every surviving doc, which has >= 1 block).
    totals = pinned.select(
        "__id", F.size("__blocks").cast("long").alias("n_blocks"),
    )
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__idx", "__block"))),
                lambda s: s["__block"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_blocks",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )


def containment_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Asymmetric n-gram containment for candidate pairs:
    ``containment(a→b) = |shingles(a) ∩ shingles(b)| / |shingles(a)|``
    — catches quotes, excerpts and supersets that symmetric Jaccard
    misses (a 100-word quote inside a 10k-word page has Jaccard ≈ 0.01
    but containment ≈ 1.0). The Broder resemblance/containment pair;
    the standard decontamination metric for "is this eval doc inside a
    training doc".

    ``pairs`` carries (``id_a``, ``id_b``); shingle sets attach by two
    id joins (bare arrays ride the join, same shape as
    :func:`ngram_jaccard_pairs`) and intersections run JVM-side.
    Returns (id_a, id_b, ``containment_a_in_b``,
    ``containment_b_in_a``, ``jaccard``).
    """
    sets_df = df.select(
        F.col(id_col),
        F.array_distinct(shingles(F.col(text_col), n)).alias("__sh"),
    )
    a = sets_df.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("__sa"))
    b = sets_df.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    na = F.size("__sa")
    nb = F.size("__sb")
    union = (na + nb).cast("double") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.when(na > 0, inter / na), round_to,
            ).alias("containment_a_in_b"),
            F.round(
                F.when(nb > 0, inter / nb), round_to,
            ).alias("containment_b_in_a"),
            F.round(
                F.when(union > 0, inter / union), round_to,
            ).alias("jaccard"),
        )
    )


def substring_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram_tokens: int = 10,
    hash_hex_digits: int = 15,
) -> DataFrame:
    """Corpus-level duplicated-substring removal at STRIDE-1 shingle
    resolution — the unaligned-repeat upgrade of :func:`span_dedup`:
    every position ``p`` carries the ``ngram_tokens``-token shingle
    starting there; any occurrence that is not the GLOBAL first
    occurrence of its shingle (ordered by ``(id, p)``) marks token
    positions ``p … p+n−1`` as duplicated, and each document is
    rebuilt from its unmarked tokens.

    vs ``span_dedup``: block alignment misses repeats that straddle a
    block boundary; stride-1 shingling catches a duplicated run at ANY
    offset ≥ n tokens (a repeated run of length m ≥ n yields m−n+1
    duplicated shingles whose coverage union is the full run) — the
    closest linear-shuffle approximation of suffix-array substring
    dedup (Lee et al. 2022) this engine offers. The first copy of a
    run survives in the document that contains it.

    Returns (``id``, ``n_tokens``, ``n_kept``, ``dedup_text``).
    Documents with zero tokens are absent from the output (same
    contract as span_dedup); documents shorter than ``ngram_tokens``
    have no shingles and survive whole.

    Plan shape at 100 TB: shingle assembly is per-row JVM expressions;
    one explode to (id, p, 60-bit md5 shingle hash) — the hash, not
    the shingle text, shuffles; first occurrence is ``min(struct(id,
    p))`` per hash (map-side combined aggregation, not a window); only
    DUPLICATE occurrences explode their n covered positions, so the
    coverage blowup is proportional to the duplicated volume, not the
    corpus; one anti-join on (id, pos) and one per-doc rebuild.
    Duplicated-shingle detection is hash-based (collision odds
    ~ |shingles|²/2^61 — negligible and deterministic).
    """
    if ngram_tokens < 1:
        raise ValueError(f"ngram_tokens must be >= 1, got {ngram_tokens}")
    n = ngram_tokens
    # Cheap raw-text predicate instead of size(__tk) > 0: a filter on
    # the derived token array predicate-pushes below the projection
    # with the split() expression inlined into the condition —
    # re-tokenizing every row a second time on the scan side of any
    # exchange, in every branch that scans the corpus (same fix as
    # span_dedup; length(trim(text)) > 0 ⟺ size(tokens) > 0 by the
    # tokens() contract).
    with_toks = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk"),
    )
    tk = F.col("__tk")
    sh_hash = lambda s: F.conv(  # noqa: E731
        F.substring(F.md5(s), 1, hash_hex_digits), 16, 10,
    ).cast("long")
    # Shingles via posexplode + lead() windows, not transform()/slice()
    # array HOFs — HOF expressions are interpreted (no codegen) and
    # measured ~10× slower for per-doc array work (same rationale and
    # shape as ngram_contamination above). The per-doc lead window is
    # embarrassingly partitioned.
    from pyspark.sql import Window

    w = Window.partitionBy("__id").orderBy("__p")
    grams = [F.col("__t")] + [F.lead("__t", i).over(w) for i in range(1, n)]
    # The token count rides along from the pre-explode array size — a
    # second count() window here would re-buffer every exploded token
    # row per document just to recover a length the array already has.
    occs = (
        with_toks.select(
            "__id",
            F.size(tk).alias("__k"),
            F.posexplode(tk).alias("__p", "__t"),
        )
        # the shingle must be assembled BEFORE the tail filter — lead()
        # reads rows the filter would drop
        .withColumn("__sh", F.concat_ws(" ", *grams))
        .filter(F.col("__p") + n <= F.col("__k"))
        .select("__id", "__p", sh_hash(F.col("__sh")).alias("__h"))
    )
    first = (
        occs.groupBy("__h")
        .agg(F.min(F.struct("__id", "__p")).alias("__w"))
        .select("__h", F.col("__w.__id").alias("__wid"), F.col("__w.__p").alias("__wp"))
    )
    dup_occs = occs.join(first, "__h").filter(
        ~((F.col("__id") == F.col("__wid")) & (F.col("__p") == F.col("__wp"))),
    )
    covered = (
        dup_occs.select(
            "__id", F.explode(F.sequence(F.col("__p"), F.col("__p") + n - 1)).alias("__pos"),
        )
        .dropDuplicates(["__id", "__pos"])
        .withColumn("__cov", F.lit(1))
    )
    tokpos = with_toks.select("__id", F.posexplode(tk).alias("__pos", "__tok"))
    kept = tokpos.join(covered, ["__id", "__pos"], "left").filter(F.col("__cov").isNull())
    totals = with_toks.select("__id", F.size(tk).alias("n_tokens"))
    rebuilt = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pos", "__tok"))),
                lambda s: s["__tok"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return (
        totals.join(rebuilt, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )


def cluster_representatives(
    df: DataFrame,
    clusters: DataFrame,
    quality_col: str,
    id_col: str = "doc_id",
    member_col: str = "id",
    cluster_col: str = "cluster_id",
    keep: str = "max",
) -> DataFrame:
    """Quality-aware near-dup survivor selection: keep the BEST-quality
    member of each cluster (ties → smallest id) instead of the
    arbitrary min-id canonical representative — the curation-correct
    policy when near-duplicates differ in quality (keep the clean copy,
    drop the boilerplate-ridden one).

    ``clusters`` is a (member, cluster_id) frame — e.g.
    :func:`dedup_clusters` over near-dup pairs; rows of ``df`` absent
    from it are singletons and always survive. ``keep='max'`` keeps
    the highest ``quality_col`` (``'min'`` the lowest — e.g. when the
    column is a perplexity). NULL quality sorts last, so a scored
    member always beats an unscored one.

    One broadcast-or-shuffle join on the id plus one window
    partitioned by cluster id — the window only ever sees cluster-
    sized groups (singletons pass through with cluster = own id).
    """
    if keep not in {"min", "max"}:
        raise ValueError("cluster_representatives: keep must be 'min' or 'max'")
    from pyspark.sql import Window

    lab = df.join(
        clusters.select(
            F.col(member_col).alias(id_col), F.col(cluster_col).alias("__cl__"),
        ),
        id_col,
        "left",
    )
    key = F.coalesce(F.col("__cl__"), F.col(id_col))
    q = F.col(quality_col)
    order = [
        q.desc_nulls_last() if keep == "max" else q.asc_nulls_last(),
        F.col(id_col).asc(),
    ]
    w = Window.partitionBy(key).orderBy(*order)
    return (
        lab.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__cl__", "__rn__")
    )
