"""Round-12: exact-duplicate collapse in the VECTOR dedup family.

The round-11 minhash collapse proved byte-identical TEXTS can be
LSH-bucketed once per group; round 12 extends it to byte-identical
VECTORS in ``cosine_near_dup_pairs`` (and therefore ``semantic_dedup``
and ``embedding_near_dups``). These tests pin the output-identity
argument: collapsing changes COST, never the emitted pair set.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F


def _corpus(spark, dup_groups=((3, 5), (7, 10)), n_unique=60, dim=16, seed=7):
    """Random unit-ish vectors with selected ids replicated: vector of
    base id ``g`` appears ``size`` extra times under fresh ids."""
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n_unique, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n_unique)]
    nxt = n_unique
    for g, size in dup_groups:
        for _ in range(size):
            rows.append((nxt, [float(x) for x in vecs[g]]))
            nxt += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def dup_corpus(spark):
    return _corpus(spark).localCheckpoint(eager=True)


def _pairs_set(df):
    return {
        (r["id_a"], r["id_b"], round(r["cosine"], 6)) for r in df.collect()
    }


def test_lsh_with_duplicates_matches_exact_all_pairs(spark, dup_corpus):
    """At bits=1 × 16 tables the LSH miss probability for any pair
    above threshold is < 1e-6 (P(miss one table) ≤ 0.38 at 69°), so
    the collapsed LSH path must emit exactly the exact-GEMM pair set —
    including every within-duplicate-group combination."""
    from rdsa_utils_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_exact,
    )

    lsh = cosine_near_dup_pairs(
        dup_corpus, dim=16, threshold=0.35, bits=1, num_tables=16,
    )
    exact = cosine_near_dup_pairs_exact(dup_corpus, dim=16, threshold=0.35)
    assert _pairs_set(lsh) == _pairs_set(exact)


def test_within_group_pairs_all_present_with_unit_cosine(spark, dup_corpus):
    from rdsa_utils_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(
        dup_corpus, dim=16, threshold=0.9, bits=1, num_tables=16,
    ).collect()
    # groups: base 3 + 5 copies (size 6), base 7 + 10 copies (size 11)
    got = {(r["id_a"], r["id_b"]) for r in out}
    g1 = [3] + list(range(60, 65))
    g2 = [7] + list(range(65, 75))
    for grp in (g1, g2):
        for i, a in enumerate(grp):
            for b in grp[i + 1:]:
                assert (min(a, b), max(a, b)) in got
    for r in out:
        assert r["cosine"] == pytest.approx(1.0, abs=1e-6)
    # nothing else reaches 0.9 on random 16-dim vectors here
    expected_n = len(g1) * (len(g1) - 1) // 2 + len(g2) * (len(g2) - 1) // 2
    assert len(out) == expected_n


def test_no_duplicate_rows_emitted(spark, dup_corpus):
    from rdsa_utils_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(
        dup_corpus, dim=16, threshold=0.35, bits=1, num_tables=16,
    )
    n = out.count()
    assert out.select("id_a", "id_b").distinct().count() == n
    assert out.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def test_fallback_join_path_equals_broadcast_path(spark, dup_corpus):
    """The shuffle-safe join-attach rescoring must agree with the
    broadcast mapInPandas rescoring through the collapse + expansion
    (same pair set; cosine to float tolerance — the two scorers share
    the float64 dot/norm formula)."""
    from rdsa_utils_spark.operators.similarity import cosine_near_dup_pairs

    kw = dict(dim=16, threshold=0.35, bits=1, num_tables=16)
    bcast = cosine_near_dup_pairs(dup_corpus, **kw)
    fallb = cosine_near_dup_pairs(dup_corpus, max_broadcast_bytes=1, **kw)
    assert _pairs_set(bcast) == _pairs_set(fallb)


def test_semantic_dedup_collapses_duplicate_groups_to_min_id(spark, dup_corpus):
    from rdsa_utils_spark.operators.similarity import semantic_dedup

    kept = semantic_dedup(
        dup_corpus, dim=16, threshold=0.9, method="lsh", bits=1, num_tables=16,
    )
    ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    # min id of each duplicate cluster survives; every copy is dropped
    assert 3 in ids and 7 in ids
    assert ids.isdisjoint(set(range(60, 75)))
    assert len(ids) == 60


def test_string_ids_still_work_through_collapse(spark):
    """The collapse window orders by the id column itself — string ids
    must keep working (lexicographic min becomes the representative)."""
    from rdsa_utils_spark.operators.similarity import cosine_near_dup_pairs

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(6, 8)).astype(np.float32)
    rows = [(f"doc{i}", [float(x) for x in vecs[i]]) for i in range(6)]
    rows += [("doc6", [float(x) for x in vecs[0]]),
             ("doc7", [float(x) for x in vecs[0]])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
    out = cosine_near_dup_pairs(
        df, dim=8, id_col="vec_id", threshold=0.99, bits=1, num_tables=16,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert {("doc0", "doc6"), ("doc0", "doc7"), ("doc6", "doc7")} <= got
    for a, b in got:
        assert a < b


def _near_dup_chain_corpus(spark):
    """Dup groups PLUS a genuine near-dup neighbour of a group member:
    id 100 is a small perturbation of base vector 3 (cosine ≈ 0.999),
    so the cluster {3, copies of 3, 100} exercises the cross-group
    membership expansion, not just the star edges."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(60, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    nxt = 60
    for g, size in ((3, 5), (7, 10)):
        for _ in range(size):
            rows.append((nxt, [float(x) for x in vecs[g]]))
            nxt += 1
    perturbed = vecs[3] + rng.normal(scale=0.01, size=16).astype(np.float32)
    rows.append((100, [float(x) for x in perturbed]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semantic_dedup_star_edges_match_full_expansion(spark):
    """The LSH path's linear star/membership edge set must produce the
    SAME survivors as clustering the full member-level pair expansion
    (the pre-round-12 composition)."""
    from rdsa_utils_spark.operators.dedup import dedup_clusters
    from rdsa_utils_spark.operators.similarity import (
        cosine_near_dup_pairs,
        semantic_dedup,
    )

    df = _near_dup_chain_corpus(spark).localCheckpoint(eager=True)
    kwargs = dict(dim=16, threshold=0.9, bits=1, num_tables=16)

    kept = semantic_dedup(df, method="lsh", **kwargs)
    got = {r["vec_id"] for r in kept.select("vec_id").collect()}

    full_pairs = cosine_near_dup_pairs(df, **kwargs)
    clusters = dedup_clusters(full_pairs.select("id_a", "id_b"))
    losers = clusters.filter(F.col("id") != F.col("cluster_id")).select("id")
    expected = {
        r["vec_id"]
        for r in df.join(
            losers, df["vec_id"] == losers["id"], "left_anti",
        ).select("vec_id").collect()
    }
    assert got == expected
    # the perturbed neighbour joins cluster(3): min id 3 survives,
    # id 100 and every copy are dropped
    assert 3 in got and 100 not in got
    assert got.isdisjoint(set(range(60, 75)))


def test_expand_representatives_contract(spark, dup_corpus):
    """Rep-level mode: every id is a group representative (min id of
    its byte-identical group), and each dup group of size >= 2 whose
    cos(v, v) clears the threshold appears as ONE (rep, rep) self-pair."""
    from rdsa_utils_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(
        dup_corpus, dim=16, threshold=0.9, bits=1, num_tables=16,
        expand="representatives",
    ).collect()
    self_pairs = {(r["id_a"], r["id_b"]) for r in out if r["id_a"] == r["id_b"]}
    assert self_pairs == {(3, 3), (7, 7)}
    member_ids = set(range(60, 75))  # non-representative copies
    for r in out:
        assert r["id_a"] not in member_ids
        assert r["id_b"] not in member_ids


def test_expand_rejects_unknown_mode(spark, dup_corpus):
    from rdsa_utils_spark.operators.similarity import cosine_near_dup_pairs

    with pytest.raises(ValueError, match="expand"):
        cosine_near_dup_pairs(
            dup_corpus, dim=16, threshold=0.9, bits=1, expand="clique",
        )
