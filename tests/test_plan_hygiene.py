"""Global plan-hygiene sweep: EVERY registered query (declared +
extra tier) must compile — across its FULL lineage, including the plan
segments hidden behind ``localCheckpoint`` cuts and construction-time
materialization (round-11: the sweep builds each query under
``plans.audit.capture_lineage_cuts``) — to physical plans with

- no ``CartesianProduct`` / ``BroadcastNestedLoopJoin`` with an inner
  cross semantics surprise (plain cartesians are the 100 TB killer),
- no row-wise Python UDF (``BatchEvalPython``) — Python is allowed
  only through Arrow (``ArrowEvalPython`` / ``MapInPandas`` /
  ``FlatMapGroupsInPandas`` / ``FlatMapCoGroupsInPandas``), per the
  engine's UDF design rule (SURVEY §2.11),
- no single-partition global ``Window`` (empty partitionSpec — the
  STRUCTURAL check via ``plans.audit.count_global_windows``, which
  replaced round 10's exact-indentation string proxy) unless the
  query is on the bounded-frame allowlist below with a stated bound,
- no lineage cut the audit cannot see through: every ``Scan
  ExistingRDD`` leaf must be backed by a captured segment or a
  driver-literal ``createDataFrame`` marker, and RDD-backed
  ``createDataFrame`` (which WOULD hide upstream operators from the
  capture hook) is refused outright.

Individual queries get deeper plan assertions in test_plans.py; this
sweep guarantees no NEW query can quietly regress the baseline
hygiene. Final frames are compiled only; construction-time driver
steps (iterative trainers) execute exactly as they do in production.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from rdsa_utils_spark.plans.audit import audit_query

SF_DIR = "/root/testdata/sf0.001"

ALL_QUERIES = {**entrymod.queries(), **entrymod.extra_queries()}

#: Queries allowed to contain a BroadcastNestedLoopJoin: scalar-
#: subquery shapes (a 1-row broadcast side is not a cartesian blowup).
_BNLJ_OK = {
    "small_qty_revenue",      # TPC-H Q17 scalar avg per part (1-row side)
    "rich_inactive_customers",  # TPC-H Q22 scalar avg acctbal
    "important_parts",        # TPC-H Q11 scalar threshold
    "top_supplier",           # TPC-H Q15 scalar max revenue
    "min_cost_supplier",      # TPC-H Q2 scalar min cost
    "part_promotion_suppliers",  # TPC-H Q20 scalar 0.2×sum threshold
    "bm25_search",            # 1-row (n_docs, avgdl) corpus stats attach
    "tfidf_terms",            # 1-row n_docs scalar attach
    "event_type_skew",        # key_skew_report 1-row total/mean attach
    "expectation_checks",     # run_checks 1-row suite summary attach
    "cosine_topk",            # brute force IS broadcast queries × corpus
    "sq8_topk_replay",        # same exact scorer over SQ8-reconstructed vecs
    "matryoshka_recall",      # two brute-force passes (broadcast queries)
    "lm_quality",             # 1-row (N, V) corpus-totals attach to vocab
    "pagerank_parts",         # 1-row node-count scalar attach per iteration
    "event_drift_weekend",    # 1-row sample-totals attach (chi-square)
    "rfm_customers",          # 1-row quartile-cuts attach
    "doc_boilerplate",        # 1-row corpus-size attach
    "standardized_embeddings",  # 1-row moment-arrays attach
    "mixed_corpus",           # 1-row feasible-total (min n/p) attach
    "event_jsd",              # 1-row sample-totals attach
    "label_centroid_sims",    # pairwise join over the tiny centroid table
    "benford_prices",         # 1-row grand-total attach
    "dedup_incremental_bloom",  # 1-row Bloom-bitmap attach (getbit probe)
    "bloom_filtered_orders",  # same 1-row Bloom-bitmap attach (bloom_semi_join)
    "woe_priority_fulfilled",  # 1-row (pos/neg/K totals) attach (woe_iv)
    "pq_topk_replay",         # ADC scan IS broadcast query-LUTs × corpus codes
    "nb_confusion",           # |labels|-row cross + 1-row vocab scalar attach
    "hybrid_search",          # inherits bm25_search's 1-row corpus-stats attach
    "collocations",           # 1-row bigram/token-totals attaches (PMI)
    "lm2_quality",            # 1-row vocab-size scalar attach (bigram LM)
    "hard_negatives",         # broadcast query frame × corpus (exact scorer)
    "term_keyness",           # 1-row corpus-totals attach (log-odds prior)
    "label_noise",            # broadcast query frame × corpus (exact kNN)
    "ab_click_value",         # 1x1 per-arm moment reshape
    "cuped_values",           # 1-row theta/mean(x) attach (CUPED)
    "brand_rules",            # 1-row basket-count attach (support/lift)
    "dsir_weights",           # 1-row (Z, N) totals attach (DSIR ratios)
    "dsir_select",            # same DSIR 1-row totals attach
    "ndcg_termscan",          # 3-row literal query-term table attach
    "mrr_termscan",           # same 3-row literal query-term attach
    "map_termscan",           # same 3-row literal query-term attach
    "rbo_termscan",           # same 3-row literal query-term attach
    "decayed_event_value",    # 1-row global-max-timestamp attach
    "kmv_overlap_types",      # |types|² pair grid over the 5-row sketch table
    "silhouette_labels",      # k-row (10) centroid table attach
    "doremi_mix",             # 1-row mixture-mean / weight-total attach
                              # per multiplicative-weights step
    "neyman_customer_sample",  # 1-row grand-totals attach onto the
                              # |strata|-row allocation table (visible in
                              # the construction segment since the
                              # round-11 lineage-cut capture)
}

#: Queries allowed single-partition global windows — STRUCTURAL count
#: over final plan + all captured lineage segments. Every entry states
#: its frame bound: the rule's target is global windows over RAW data,
#: and each of these runs over a frame already reduced to catalog /
#: calendar / knot-table size by an aggregation.
_GLOBAL_WINDOW_OK = {
    "cumulative_new_users": "running sum over ONE ROW PER DAY (calendar-bounded)",
    "hybrid_search": "RRF ranks over two top-10 frames (≤ 10 rows each)",
    "chained_price_index": "chain product over ONE ROW PER PERIOD",
    "zipf_tokens": "row_number over the top-k term frame (top_k=200 LIMIT)",
}


@pytest.mark.parametrize("name", sorted(ALL_QUERIES))
def test_plan_hygiene(spark, name):
    rec = audit_query(ALL_QUERIES[name], spark, SF_DIR)
    plans = [("final", rec["final"]["plan"])] + [
        (g["kind"], g["plan"]) for g in rec["segments"] if g.get("plan")
    ]

    for where, plan in plans:
        assert "CartesianProduct" not in plan, (
            f"{name} [{where}]: cartesian product in plan"
        )
        assert "BatchEvalPython" not in plan, (
            f"{name} [{where}]: row-wise Python UDF in plan"
        )
        if name not in _BNLJ_OK:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{name} [{where}]: nested-loop join in plan (add to "
                "_BNLJ_OK only if the broadcast side is provably a "
                "scalar/1-row frame)"
            )

    global_windows = rec["final"]["global_windows"] + sum(
        g.get("global_windows", 0) for g in rec["segments"]
    )
    if name not in _GLOBAL_WINDOW_OK:
        assert global_windows == 0, (
            f"{name}: {global_windows} single-partition global window(s) "
            "in the full lineage (add to _GLOBAL_WINDOW_OK only with a "
            "stated frame bound)"
        )

    # Lineage-cut blindness regression (VERDICT r10 task 1): an RDD
    # scan with NO captured segment and NO literal marker means a cut
    # route the capture hook does not patch hid upstream operators.
    assert not any(g.get("unbacked") for g in rec["segments"]), (
        f"{name}: RDD-backed createDataFrame hides lineage from the audit"
    )
    if any("Scan ExistingRDD" in plan for _, plan in plans):
        assert rec["segments"], (
            f"{name}: plan contains a LogicalRDD/checkpoint leaf but the "
            "capture hook recorded no segment — upstream operators are "
            "hidden from the audit"
        )
