"""minhash_near_dedup in one Python pass: the fused signature+set UDF,
the JVM Jaccard and the one-expression band key must equal the code
they replaced bit for bit. The replaced code is kept below as the
reference."""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rdsa_utils_spark.operators.dedup import (
    MINHASH_P,
    _signatures_and_sets,
    band_hash_rows,
    minhash_coefficients,
    minhash_near_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_hash_sets,
)
from rdsa_utils_spark.plans.audit import capture_lineage_cuts


# --------------------------------------------------------------------------
# Reference: the per-batch bodies of the replaced UDFs and the Column-built
# band key, as they were before the one-pass change.
# --------------------------------------------------------------------------

def _reference_signatures(texts, num_perm, n):
    import hashlib

    p = MINHASH_P
    a_co, b_co = minhash_coefficients(num_perm)
    all_h: list[int] = []
    offsets = [0]
    for t in texts:
        toks = (t or "").split()
        if toks:
            shs = {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}
            all_h.extend(
                int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little") % p
                for s in shs
            )
        offsets.append(len(all_h))
    H = np.asarray(all_h, dtype=np.int64)
    starts = np.asarray(offsets[:-1])
    ends = np.asarray(offsets[1:])
    nonempty = ends > starts
    sigs = np.full((len(texts), num_perm), p, dtype=np.int64)
    if H.size:
        ne_starts = starts[nonempty]
        for j in range(num_perm):
            ph = (a_co[j] * H + b_co[j]) % p
            sigs[nonempty, j] = np.minimum.reduceat(ph, ne_starts)
    return [list(map(int, s)) for s in sigs]


def _reference_sets(texts, n):
    import hashlib

    out = []
    for t in texts:
        toks = (t or "").split()
        if not toks:
            out.append([])
            continue
        m = max(len(toks) - n + 1, 1)
        s = {" ".join(toks[i : i + n]) for i in range(m)}
        h = np.fromiter(
            (int.from_bytes(hashlib.md5(x.encode("utf-8")).digest()[:8], "little") for x in s),
            dtype=np.uint64,
            count=len(s),
        ).view(np.int64)
        h.sort()
        out.append(list(map(int, h)))
    return out


def _reference_jaccard(a, b) -> float:
    na, nb = len(a), len(b)
    if na == 0 and nb == 0:
        return 0.0
    inter = np.intersect1d(
        np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64), assume_unique=True,
    ).size
    return inter / (na + nb - inter)


def _reference_band_hash_rows(df, id_col, signature_col, num_bands, rows_per_band, out_id):
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat_ws(
                                        ",",
                                        *[
                                            F.element_at(signature_col, b * rows_per_band + r + 1)
                                            for r in range(rows_per_band)
                                        ],
                                    ),
                                ),
                                1,
                                12,
                            ),
                            16,
                            10,
                        )
                        .cast("long")
                        .alias("band_hash"),
                    )
                    for b in range(num_bands)
                ],
            ),
        ).alias("bb"),
    ).select(out_id, "bb.band", "bb.band_hash")


# --------------------------------------------------------------------------

_WORDS = "the cat sat on a mat and dog ran far away from home".split()


def _texts(seed: int, k: int):
    rng = random.Random(seed)
    texts = [None, "", "   ", "one", "two words", "one\ttoken\n", "a a a a a a"]
    for _ in range(k):
        texts.append(" ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 40))))
    return texts


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]),
    ).repartition(3)


@pytest.mark.parametrize("num_perm,shingle_n", [(64, 3), (16, 1), (8, 5)])
def test_fused_udf_equals_both_single_udfs(spark, num_perm, shingle_n):
    texts = _texts(num_perm + shingle_n, 120)
    docs = _docs(spark, texts)
    fused = {
        r.doc_id: (list(r.minhash), list(r.shingle_hashes))
        for r in _signatures_and_sets(docs, "doc_id", "text", num_perm, shingle_n).collect()
    }
    sigs = {
        r.doc_id: list(r.minhash)
        for r in minhash_signatures(docs, "text", num_perm, shingle_n).collect()
    }
    sets = {
        r.doc_id: list(r.shingle_hashes)
        for r in shingle_hash_sets(docs, "text", shingle_n).collect()
    }
    ref_sigs = _reference_signatures(texts, num_perm, shingle_n)
    ref_sets = _reference_sets(texts, shingle_n)
    assert len(fused) == len(texts)
    for i in range(len(texts)):
        assert fused[i][0] == sigs[i] == ref_sigs[i], texts[i]
        assert fused[i][1] == sets[i] == ref_sets[i], texts[i]
    # empty and blank texts carry the all-p sentinel and an empty set
    assert fused[1] == ([MINHASH_P] * num_perm, [])
    assert fused[0] == ([MINHASH_P] * num_perm, [])


def test_jvm_jaccard_equals_numpy_intersect(spark):
    rng = random.Random(11)
    universe = [rng.randrange(-(1 << 63), 1 << 63) for _ in range(400)]
    sets = [[], [], sorted(universe[:5]), sorted(universe[5:9])]  # empty, empty, disjoint
    for _ in range(200):
        pool = universe[: rng.randint(1, 400)]
        sets.append(sorted(rng.sample(pool, rng.randint(0, min(60, len(pool))))))
    sets_df = spark.createDataFrame(
        list(enumerate(sets)),
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("sh", T.ArrayType(T.LongType())),
        ]),
    )
    pairs = [(0, 1), (2, 3), (0, 2), (2, 2)]
    pairs += [(rng.randrange(len(sets)), rng.randrange(len(sets))) for _ in range(500)]
    pairs_df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = ngram_jaccard_pairs(
        None, pairs_df, "id", "text", sets_df=sets_df,
    ).select("id_a", "id_b", "jaccard").collect()
    assert len(got) == len(pairs)
    for r in got:
        assert r.jaccard == _reference_jaccard(sets[r.id_a], sets[r.id_b]), (r.id_a, r.id_b)
    by_pair = {(r.id_a, r.id_b): r.jaccard for r in got}
    assert by_pair[(0, 1)] == 0.0 and by_pair[(2, 3)] == 0.0 and by_pair[(2, 2)] == 1.0


@pytest.mark.parametrize("num_bands,rows_per_band,out_id", [(16, 4, "__id__"), (4, 4, "doc_id"), (8, 1, "x")])
def test_band_hash_rows_equals_column_construction(spark, num_bands, rows_per_band, out_id):
    sig = minhash_signatures(_docs(spark, _texts(5, 60)), "text", num_bands * rows_per_band, 3)
    got = band_hash_rows(sig, "doc_id", "minhash", num_bands, rows_per_band, out_id)
    ref = _reference_band_hash_rows(sig, "doc_id", "minhash", num_bands, rows_per_band, out_id)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_near_dedup_runs_one_python_stage(spark, sf_dir):
    from rdsa_utils_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    segments: list = []
    with capture_lineage_cuts(segments):
        out = minhash_near_dedup(docs, "text", "doc_id")
        final = out._jdf.queryExecution().executedPlan().toString()
    plans = [final] + [s.get("plan", "") for s in segments]
    assert sum(p.count("ArrowEvalPython") for p in plans) == 1
    assert out.count() > 0


def test_verify_reads_the_pinned_sets(spark):
    # A near-dup pair and an exact-dup pair: the survivors are the same
    # with the sets from the fused, pinned frame as with the reference
    # verify over freshly shingled text.
    base = " ".join(_WORDS * 3)
    texts = [base, base + " extra", base, "something else entirely here", None, ""]
    out = minhash_near_dedup(_docs(spark, texts), "text", "doc_id", jaccard_threshold=0.8)
    assert sorted(r.doc_id for r in out.collect()) == [0, 3, 4, 5]
