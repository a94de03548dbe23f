"""Scale-posture tests: assert the physical plans we designed.

These lock in the 100 TB properties — broadcasts, pushdown, column
pruning, shuffle counts — so a refactor that silently degrades a plan
fails CI, not production."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from rdsa_utils_spark.plans.explain import (
    count_broadcast_joins,
    count_exchanges,
    has_cartesian_product,
    plan_string,
    pushed_filters,
    scan_read_schemas,
    whole_stage_codegen_ids,
)


def test_revenue_by_nation_plan(spark, sf_dir):
    df = entrymod.q_revenue_by_nation(spark, sf_dir)
    # Every dimension join broadcasts; the fact table never shuffles
    # until the final aggregation.
    assert count_broadcast_joins(df) >= 3
    assert not has_cartesian_product(df)
    # agg + orderBy = 2 shuffles, nothing else
    assert count_exchanges(df) <= 2
    # The o_orderdate range predicate reaches the orders parquet scan.
    filters = " | ".join(pushed_filters(df))
    assert "o_orderdate" in filters and "GreaterThanOrEqual" in filters
    # Column pruning: lineitem scan reads only the 4 needed columns.
    li_schema = next(s for s in scan_read_schemas(df) if "l_extendedprice" in s)
    assert "l_quantity" not in li_schema and "l_shipdate" not in li_schema


def test_pricing_summary_plan(spark, sf_dir):
    df = entrymod.q_pricing_summary(spark, sf_dir)
    filters = " | ".join(pushed_filters(df))
    assert "l_shipdate" in filters and "LessThanOrEqual" in filters
    # Map-side partial aggregation before the single shuffle.
    plan = plan_string(df, "formatted")
    assert "partial_sum" in plan
    # agg + sort, plus the round-12 parallelism-floor exchange that
    # only fires on low-partition scans (the single-row-group test
    # fixtures); at scale the floor is a no-op and this is back to 2.
    assert count_exchanges(df) <= 3
    # Codegen spans appear once AQE finalizes the plan (post-action).
    df.collect()
    assert len(whole_stage_codegen_ids(df)) >= 1


def test_top_orders_uses_take_ordered(spark, sf_dir):
    df = entrymod.q_top_orders(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_string(df, "formatted")


def test_melt_is_narrow(spark, sf_dir):
    df = entrymod.q_melt_lineitem(spark, sf_dir)
    assert count_exchanges(df) == 0  # Expand is shuffle-free
    assert "Expand" in plan_string(df, "formatted")


def test_doc_stats_is_narrow(spark, sf_dir):
    df = entrymod.q_doc_stats(spark, sf_dir)
    assert count_exchanges(df) == 0


def test_asof_join_single_shuffle(spark, sf_dir):
    df = entrymod.q_asof_purchase_signup(spark, sf_dir)
    # union + window sweep = ONE hash shuffle on (user_id); the final
    # orderBy adds a range exchange. No join shuffle, no cross join.
    assert count_exchanges(df) <= 2
    assert not has_cartesian_product(df)
    plan = plan_string(df, "formatted")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_brute_force_topk_broadcasts_queries(spark, sf_dir):
    df = entrymod.q_cosine_topk(spark, sf_dir)
    plan = plan_string(df, "formatted")
    # The query side broadcasts; corpus streams through a nested-loop.
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 1  # top-k window only


def test_filter_pushdown_events(spark, sf_dir):
    df = entrymod.q_filter_events(spark, sf_dir)
    assert count_exchanges(df) == 0
    filters = " | ".join(pushed_filters(df))
    assert "event_type" in filters


def test_unpartitioned_window_guard(spark):
    from rdsa_utils_spark.plans.explain import assert_no_unpartitioned_window

    df = spark.createDataFrame([(1, 2.0)], "id long, v double")
    from pyspark.sql import Window

    global_window = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("v")),
    )
    with pytest.raises(AssertionError, match="Unpartitioned window"):
        assert_no_unpartitioned_window(global_window)
    ok = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("v")),
    )
    assert_no_unpartitioned_window(ok)


def test_range_join_no_cartesian(spark, sf_dir):
    df = entrymod.q_range_join_events(spark, sf_dir)
    # The bucketized range join must plan as an equi-join, never a
    # cartesian/theta product.
    assert not has_cartesian_product(df)
    plan = plan_string(df, "formatted")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_tpch_shapes_broadcast_dimensions(spark, sf_dir):
    # Q3/Q10 shapes: dimension sides broadcast, no cartesian products.
    for q in ("q_shipping_priority", "q_returned_customers"):
        df = getattr(entrymod, q)(spark, sf_dir)
        assert count_broadcast_joins(df) >= 1, q
        assert not has_cartesian_product(df), q


def test_semi_anti_join_shapes(spark, sf_dir):
    # Q4 left-semi and Q16 anti: planned as (Broadcast)HashJoin with
    # Semi/Anti build, never a filter-after-join.
    plan = plan_string(entrymod.q_order_priority_check(spark, sf_dir))
    assert "LeftSemi" in plan
    plan = plan_string(entrymod.q_supplier_part_counts(spark, sf_dir))
    assert "LeftAnti" in plan


def test_disjunctive_filter_pushes_join_key(spark, sf_dir):
    # Q19 shape: the p_partkey equi-key is still a hash join (the OR
    # predicate must not force a nested-loop join).
    df = entrymod.q_disjunctive_revenue(spark, sf_dir)
    assert not has_cartesian_product(df)
    assert count_broadcast_joins(df) >= 1


def test_scalar_subquery_broadcasts(spark, sf_dir):
    # Q22 shape: the avg-balance scalar comes in via broadcast, and
    # the orders anti join is a real anti join.
    df = entrymod.q_rich_inactive_customers(spark, sf_dir)
    plan = plan_string(df)
    assert "LeftAnti" in plan
    assert count_broadcast_joins(df) >= 1


def test_salted_join_spreads_key(spark, sf_dir):
    from rdsa_utils_spark.operators.joins import salted_join
    from rdsa_utils_spark.sources.readers import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select("l_orderkey")
    o = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"),
    )
    df = salted_join(li, o, on="l_orderkey", salt_buckets=8)
    # the physical join key includes the salt column
    plan = plan_string(df)
    assert "__salt__" in plan


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    from rdsa_utils_spark.sources.readers import read_parquet
    from rdsa_utils_spark.sources.writers import write_bucketed_table

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity",
    )
    o = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice",
    )
    write_bucketed_table(li, "bck_li", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    write_bucketed_table(o, "bck_o", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    try:
        a = spark.table("bck_li")
        b = spark.table("bck_o")
        # broadcast would mask the bucketing — force a sort-merge path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, a.l_orderkey == b.o_orderkey)
        assert count_exchanges(joined) == 0, plan_string(joined)
        assert joined.count() == li.join(o, li.l_orderkey == o.o_orderkey).count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bck_li")
        spark.sql("DROP TABLE IF EXISTS bck_o")


def test_no_unexpected_cartesian_in_any_query(spark, sf_dir):
    # Global plan hygiene: no query may plan a cartesian/BNL join
    # except those that broadcast a deliberately tiny side.
    allowed = {
        "cosine_topk",        # broadcast-nested-loop of the query set
        "top_supplier",       # broadcast scalar max crossJoin
        "rich_inactive_customers",  # broadcast scalar avg crossJoin
    }
    failures = []
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
        except Exception as exc:  # pragma: no cover - surface plan bugs
            failures.append(f"{name}: build failed {exc}")
            continue
        if name not in allowed and has_cartesian_product(df):
            failures.append(name)
    assert not failures, f"cartesian products in: {failures}"


def test_lsh_near_dup_rescoring_broadcasts_under_guard(spark, sf_dir):
    """Under the 2M-row guard the LSH near-dup rescoring must be a
    MapInPandas pass over bare-id pairs — the only join in the plan is
    the bucket self-join; no join ever attaches vector payloads. Past
    the guard the plan switches to the two payload joins."""
    from rdsa_utils_spark.operators.similarity import cosine_near_dup_pairs

    def _n_joins(frame):
        plan = plan_string(frame, "simple")  # tree once, no details section
        return sum(
            plan.count(j)
            for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
        )

    # Since the round-12 exact-dup collapse, the plan also carries the
    # two output-sized membership-expansion joins (bare-id frames) —
    # but still exactly ONE MapInPandas scoring pass (the expansion
    # must not duplicate the scored subtree) and still no join that
    # attaches vector payloads on the broadcast path.
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    scored = cosine_near_dup_pairs(emb, dim=64, threshold=0.3, bits=4, num_tables=2)
    assert plan_string(scored, "simple").count("MapInPandas") == 1
    assert _n_joins(scored) == 3, "expected bucket self-join + 2 expansion joins"

    # The guard is BYTES (Catalyst plan stats), not rows — a 1-byte
    # budget forces the shuffle-safe plan, without running any eager
    # count job.
    fallback = cosine_near_dup_pairs(
        emb, dim=64, threshold=0.3, bits=4, num_tables=2, max_broadcast_bytes=1,
    )
    assert _n_joins(fallback) == 5, (
        "expected bucket join + 2 payload joins + 2 expansion joins"
    )


def test_bm25_plan_broadcasts_and_filters_early(spark, sf_dir):
    """BM25: the term filter must sit inside the token-explode
    projection (shuffle volume = matching tokens), the df table and
    corpus scalars must broadcast, and the only plain shuffles are the
    (doc, term) aggregation, the final per-doc aggregation, and the
    top-k sort."""
    from rdsa_utils_spark.operators.search import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = bm25_topk(docs, ["spark", "join"], k=5)
    assert count_broadcast_joins(df) >= 1  # document-frequency table
    plan = plan_string(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan  # single-row scalar attach
    assert count_exchanges(df) <= 4


def test_repetition_stats_single_gram_shuffle(spark, sf_dir):
    """repetition_stats: one window shuffle on the doc id, one
    (id, n, gram) aggregation shuffle, one per-doc rollup — no joins,
    no Python."""
    from rdsa_utils_spark.operators.text import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = repetition_stats(docs, "text")
    plan = plan_string(df, "simple")
    assert "Join" not in plan
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    assert count_exchanges(df) <= 3


def test_winsorize_broadcasts_bounds(spark, sf_dir):
    # The per-group bounds table must come back as a broadcast join and
    # the percentile pair must be ONE accumulator, not two scans.
    df = entrymod.q_winsorized_acctbal(spark, sf_dir)
    assert count_broadcast_joins(df) >= 1
    # ONE percentile accumulator: formatted plans print the aggregate
    # in partial+final nodes and their detail blocks (4 mentions); a
    # second independent percentile agg would double that.
    assert plan_string(df).count("percentile(") <= 4


def test_boilerplate_single_explode_no_stream_join(spark, sf_dir):
    # One generator over the token stream; the flagged vocabulary is a
    # broadcast array, so no SortMergeJoin anywhere in the plan.
    import re

    df = entrymod.q_doc_boilerplate(spark, sf_dir)
    p = plan_string(df)
    assert len(re.findall(r"\(\d+\) Generate", p)) == 1
    assert "SortMergeJoin" not in p


def test_weighted_sample_take_ordered(spark, sf_dir):
    # Top-k must be TakeOrderedAndProject (per-partition heaps), never
    # a global sort materialization.
    df = entrymod.q_weighted_doc_sample(spark, sf_dir)
    assert "TakeOrderedAndProject" in plan_string(df)


def test_mix_corpora_broadcasts_rates(spark, sf_dir):
    df = entrymod.q_mixed_corpus(spark, sf_dir)
    assert count_broadcast_joins(df) >= 1
    assert not has_cartesian_product(df)


def test_interval_join_is_equi_join_with_range_filter(spark, sf_dir):
    # The stream-stream-shaped join must hash/merge on the key with the
    # time bound as a post-probe condition — no nested-loop join.
    df = entrymod.q_view_purchase_interval(spark, sf_dir)
    p = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_transition_matrix_single_keyed_window(spark, sf_dir):
    # One window over the entity key (plus the tiny normalization
    # window over the states x states table).
    df = entrymod.q_user_transitions(spark, sf_dir)
    assert plan_string(df).count("Window") <= 4  # lead + normalize, partial plans


def test_standardize_dims_no_stream_join(spark, sf_dir):
    # Rows score themselves against broadcast moment arrays: the only
    # join is the 1-row attach, never a join on the exploded stream.
    df = entrymod.q_standardized_embeddings(spark, sf_dir)
    assert "SortMergeJoin" not in plan_string(df)


def test_minhash_near_dedup_collapse_window_pinned(spark, sf_dir):
    # The exact-dup collapse window (row_number over the text digest)
    # feeds two consumers — the representative anti-join and the final
    # loser union. It must be pinned so the scan+md5+window subtree
    # executes once: the FINAL plan reads the pinned frame and carries
    # no Window operator at all.
    df = entrymod.q_minhash_near_dedup(spark, sf_dir)
    p = plan_string(df)
    assert "Window" not in p
    assert "ExistingRDD" in p  # loser ids + banded signatures, pinned


def test_lm2_quality_single_tokenize_explode(spark, sf_dir):
    # The bigram-LM pair-count frame feeds four consumers
    # (left-context counts, both vocab-union sides, logprob join);
    # pinned, the final plan tokenizes/explodes the corpus exactly
    # once — for the per-doc bigram stream — and reads the pinned
    # vocabulary-squared-bounded frame everywhere else.
    df = entrymod.q_lm2_quality(spark, sf_dir)
    p = plan_string(df)
    import re
    assert len(re.findall(r"\(\d+\) Generate\b", p)) == 1
    assert "ExistingRDD" in p


def test_nb_train_counts_pinned_single_tokenize(spark, sf_dir):
    # train_naive_bayes' (label, token) count frame feeds the model,
    # the label totals AND the vocabulary scalar; pinned, the final
    # nb_confusion plan tokenizes/explodes the corpus exactly once —
    # the score-side stream — instead of replaying the training
    # explode+aggregate under every model/priors broadcast (13 corpus
    # scans before the pin).
    df = entrymod.q_nb_confusion(spark, sf_dir)
    p = plan_string(df)
    import re
    assert len(re.findall(r"\(\d+\) Generate\b", p)) == 1
    assert "ExistingRDD" in p


def test_token_budget_mix_single_pass(spark, sf_dir):
    # Tier 2 is ONE keep-filter over one bucket-partitioned running
    # total — not a whole/boundary branch pair unioned back together
    # (the branched form re-executed the scan+tokenize+md5 subtree
    # per branch: 4 corpus scans; the fused form plans exactly 2, the
    # two-pass information floor for a budget prefix).
    df = entrymod.q_token_budget_mix(spark, sf_dir)
    p = plan_string(df)
    import re
    # Anchor on the plan NODE, not the bare substring (ADVICE r12): a
    # column or codegen label containing "Union" must not fail this.
    assert not re.findall(r"\(\d+\) Union\b", p)
    assert len(re.findall(r"\(\d+\) Scan parquet\b", p)) == 2
