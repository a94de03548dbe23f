"""Graph operators over edge DataFrames: iteration-bounded PageRank,
market-basket co-occurrence, and triangle counting.

Extension surface (no reference equivalent; complements the
connected-components clustering in ``operators/dedup.py``): entity
graphs in a training-data pipeline — document citation/link graphs,
co-occurrence graphs, record-linkage match graphs — need an
importance score, and PageRank is the canonical one.

Design (Spark-first, deterministic):

- The operator runs a FIXED number of synchronous power iterations —
  ``rank_{k+1}(v) = (1-d)/N + d · Σ_{(u,v,w)∈E} rank_k(u) · w/W(u)``
  with ``W(u)`` the total out-weight of ``u``. A fixed iteration
  count (vs an epsilon loop) makes the result a pure function of the
  input, replayable by an external engine with the iterations
  unrolled as SQL (see the ``pagerank_parts`` oracle) — the same
  replay-determinism stance as ``operators/scd.py``.
- Dangling mass is dropped, not redistributed: nodes without
  out-edges absorb rank but re-emit only the teleport term, so ranks
  sum to < 1 when dangling nodes exist. Documented contract — the
  redistribution variant needs a global scalar per iteration (an
  extra all-reduce each round) for a normalization most rankings
  never read.
- Per iteration the EDGE table never moves: shares are partitioned by
  ``dst`` once (loop-invariant, persisted), the rank vector — tiny
  relative to edges — is broadcast into the join, and the
  ``groupBy(dst)`` reuses the existing hash partitioning, so an
  iteration shuffles O(nodes), not O(edges). Past
  ``_MAX_BROADCAST_NODES`` the planner picks the join strategy (AQE
  handles celebrity-node skew). A pin
  after every iteration materializes the ranks exactly like
  ``dedup_clusters`` does, so the executed DAG never grows with the
  iteration count.
- Driver traffic: one ``count()`` for N. No other driver data path.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import pin

__all__ = ["pagerank", "cooccurrence_pairs", "triangle_count", "connected_components", "label_propagation"]

#: Node count up to which the iterative operators broadcast their
#: per-node vector into every round's join.
_MAX_BROADCAST_NODES = 10_000_000


def _broadcast_small(df: DataFrame, n_nodes: int) -> DataFrame:
    """Hint a per-node side of a loop join while the graph is small."""
    # broadcast: both sides read the previous round's pin, and a cluster pin's scan has no size statistic
    return F.broadcast(df) if n_nodes <= _MAX_BROADCAST_NODES else df


def cooccurrence_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 1,
    max_items_per_basket: Optional[int] = None,
) -> DataFrame:
    """Market-basket co-occurrence: for every unordered item pair,
    the number of distinct baskets containing both. Returns
    ``(item_a, item_b, n_baskets)`` with ``item_a < item_b``,
    filtered to ``n_baskets >= min_count``.

    Shape: dedup to distinct (basket, item) rows, then a self
    equi-join ON the basket key — cost is Σ k_b·(k_b−1)/2 over
    basket sizes k_b, NOT |items|². That is linear in data volume
    while basket sizes are bounded, which is exactly what
    ``max_items_per_basket`` enforces at 100 TB: a deterministic
    per-basket cap (smallest items win, so reruns agree) that stops
    one celebrity basket from emitting millions of pairs. The join
    key is the basket id — high cardinality, well distributed — so
    the shuffle is even; AQE splits any residual skew.
    """
    base = df.select(
        F.col(basket_col).alias("__basket"), F.col(item_col).alias("__item"),
    ).dropDuplicates(["__basket", "__item"])
    if max_items_per_basket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("__basket").orderBy("__item")
        base = (
            base.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_items_per_basket)
            .drop("__rn")
        )
    left = base.select("__basket", F.col("__item").alias("item_a"))
    right = base.select("__basket", F.col("__item").alias("item_b"))
    return (
        left.join(right, "__basket")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_baskets"))
        .filter(F.col("n_baskets") >= min_count)
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle count of the undirected simple graph induced
    by ``edges``: one row ``(n_triangles,)``.

    Classic two-join enumeration with the canonical-ordering trick:
    edges are normalized to ``a < b`` and deduped, then each
    triangle ``a<b<c`` is found exactly once via
    ``(a,b) ⋈ (b,c) ⋈ (a,c)``. Both joins are hash equi-joins on
    vertex ids — no cartesian anywhere — and the canonical
    orientation means every edge participates as a join probe only
    in one direction, the standard halving that makes this the
    scalable formulation. Skewed hub vertices are the known hot
    spot; AQE skew-join splitting handles moderate hubs, and
    degree-capping upstream (drop vertices above a degree bound) is
    the documented mitigation for power-law graphs at full scale.
    """
    a, b = F.col(src), F.col(dst)
    canon = (
        edges.filter(a != b)
        .select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    e1 = canon
    e2 = canon.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = canon.select(F.col("a").alias("a2"), F.col("b").alias("c2"))
    wedges = e1.join(e2, "b")
    tri = wedges.join(
        e3, (F.col("a") == F.col("a2")) & (F.col("c") == F.col("c2")),
    )
    return tri.agg(F.count(F.lit(1)).alias("n_triangles"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: Optional[str] = None,
    iterations: int = 5,
    damping: float = 0.85,
    rank_col: str = "rank",
) -> DataFrame:
    """Ranks after ``iterations`` synchronous PageRank steps over the
    directed (optionally weighted) edge list. Returns one row per
    node: (node, ``rank_col``). Parallel edges are additive weight;
    self-loops are legal ordinary edges (filter them upstream if the
    semantics call for it). While the graph has at most
    ``_MAX_BROADCAST_NODES`` nodes the rank vector is broadcast each
    round and only O(nodes) rows shuffle per iteration; beyond that
    the planner picks the join strategy."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0.0 < damping < 1.0:
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(
        F.col(src).alias("__src"), F.col(dst).alias("__dst"), w.alias("__w"),
    )
    nodes = (
        e.select(F.col("__src").alias("node"))
        .union(e.select(F.col("__dst").alias("node")))
        .distinct()
        .transform(pin)  # count() below materializes it
    )
    n = nodes.count()

    outw = e.groupBy("__src").agg(F.sum("__w").alias("__wout"))
    # Loop invariant, computed once: per-edge share, pre-partitioned on
    # the destination so every iteration's groupBy(dst) fully collapses
    # in place — persist (not pin) because a pin's scan forgets its
    # outputPartitioning and would re-shuffle the partial aggregates
    # every round; the cache is released before returning. The
    # materialized per-iteration rank pins answer without it; on a
    # cluster master a rank block lost with its executor is
    # recomputed through ``shares``' lineage (local masters truncate
    # the lineage, so there the result is independent of it).
    shares = (
        e.join(outw, "__src")
        .select(
            "__src", "__dst", (F.col("__w") / F.col("__wout")).alias("__share"),
        )
        .repartition(F.col("__dst"))
        .persist()
    )
    teleport = F.lit(1.0 - damping) / F.lit(float(n))
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias(rank_col))
    for _ in range(iterations):
        msgs = (
            shares.join(_broadcast_small(ranks, n), shares["__src"] == ranks["node"])
            .groupBy("__dst")
            .agg(F.sum(F.col("__share") * F.col(rank_col)).alias("__m"))
        )
        # Lazy pin: the plan stays one scan deep, but materialization
        # rides the NEXT round's broadcast build (or the caller's
        # action for the last round) instead of paying a dedicated
        # job per iteration (round-12: 5 fewer jobs per call here).
        ranks = (
            nodes.join(_broadcast_small(msgs, n), nodes["node"] == msgs["__dst"], "left")
            .select(
                "node",
                (
                    teleport
                    + F.lit(damping) * F.coalesce(F.col("__m"), F.lit(0.0))
                ).alias(rank_col),
            )
            .transform(pin)
        )
    # One materializing action for the WHOLE iteration chain: the
    # nested broadcast builds compute rounds 1..k-1 (shares computes
    # once and stays cached throughout), and only then is the cache
    # released — unpersisting before materialization would recompute
    # ``shares`` every round.
    ranks.count()
    shares.unpersist()
    return ranks


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Weakly-connected components of the undirected graph induced by
    ``edges``: one row per node, ``(id, cluster_id)`` with
    ``cluster_id`` = the component's smallest node id.

    Thin graph-vocabulary alias over
    ``operators/dedup.dedup_clusters`` (iterative min-label
    propagation with per-round pins and an exact convergence
    check — see that operator for the scale design and the
    union-find property test); exposed here so graph workloads find
    it next to pagerank/triangles without knowing the dedup module.
    """
    from rdsa_utils_spark.operators.dedup import dedup_clusters

    pairs = edges.select(F.col(src).alias("id_a"), F.col(dst).alias("id_b"))
    return dedup_clusters(pairs)


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise association rules from market baskets: for each
    DIRECTED pair (a → b), ``support`` = P(a,b), ``confidence`` =
    P(b|a), ``lift`` = P(a,b)/(P(a)·P(b)) — the Apriori layer on top
    of :func:`cooccurrence_pairs` (pairs only: at web scale, ≥3-way
    itemsets explode combinatorially; mine pairs first and extend the
    shortlist if needed).

    Same basket-key self-join shape as the co-occurrence operator,
    plus item-support joins and a 1-row basket-count attach. Returns
    (``antecedent``, ``consequent``, ``n_both``, ``n_antecedent``,
    ``support``, ``confidence``, ``lift``) for pairs with
    ``n_both >= min_count``, both rule directions.
    """
    # Pin the deduped basket-item stream: it feeds the item supports
    # (read on both the antecedent and consequent side), the
    # basket-count scalar and BOTH self-join sides — unpinned, the
    # source scan + distinct aggregate executed 5x in this plan. The
    # pin is the (basket, item) pair set the algorithm is defined on:
    # linear in the input (unlike the vocabulary-/calendar-bounded
    # pins elsewhere), no payload columns.
    base = (
        df.select(F.col(basket_col).alias("__basket"), F.col(item_col).alias("__item"))
        .dropDuplicates(["__basket", "__item"])
        .transform(pin)
    )
    item_counts = base.groupBy(F.col("__item")).agg(
        F.count(F.lit(1)).alias("__n_item"),
    )
    n_baskets = base.agg(
        F.countDistinct("__basket").alias("__n_baskets"),
    )
    left = base.select("__basket", F.col("__item").alias("antecedent"))
    right = base.select("__basket", F.col("__item").alias("consequent"))
    pair_counts = (
        left.join(right, "__basket")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= min_count)
    )
    ante = item_counts.select(
        F.col("__item").alias("antecedent"), F.col("__n_item").alias("n_antecedent"),
    )
    cons = item_counts.select(
        F.col("__item").alias("consequent"), F.col("__n_item").alias("__n_cons"),
    )
    nb = F.col("__n_baskets").cast("double")
    return (
        pair_counts.join(ante, "antecedent")
        .join(cons, "consequent")
        .crossJoin(n_baskets)
        .select(
            "antecedent",
            "consequent",
            "n_both",
            "n_antecedent",
            F.round(F.col("n_both") / nb, round_to).alias("support"),
            F.round(
                F.col("n_both") / F.col("n_antecedent").cast("double"), round_to,
            ).alias("confidence"),
            F.round(
                (F.col("n_both") / nb)
                / (
                    (F.col("n_antecedent") / nb)
                    * (F.col("__n_cons") / nb)
                ),
                round_to,
            ).alias("lift"),
        )
    )


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    UNDIRECTED graph induced by ``edges``: every node starts in its
    own community, and each round adopts the most frequent label among
    its neighbours (ties break to the smallest label — fully
    deterministic, so a fixed ``iterations`` makes the result
    replayable by unrolled SQL, the same stance as :func:`pagerank`).
    Returns one row per node: (node, community).

    vs :func:`connected_components`: components merge everything
    reachable; label propagation finds DENSE regions — the right
    granularity for "which near-dup cluster/topic neighbourhood does
    this doc sit in" when bridges shouldn't glue clusters together.

    Scale shape mirrors pagerank: the undirected edge list is
    materialized once, pre-partitioned on the message destination and
    persisted (loop-invariant); the label vector (O(nodes)) is
    broadcast per round while the graph fits
    ``_MAX_BROADCAST_NODES``, so an iteration shuffles O(nodes) for
    the per-(node, label) counts, never the edges; per-round
    pin keeps the DAG depth constant.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    fwd = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    und = (
        fwd.union(fwd.select(F.col("__dst").alias("__src"), F.col("__src").alias("__dst")))
        .distinct()
        .repartition(F.col("__dst"))
        .persist()
    )
    nodes = und.select(F.col("__dst").alias("node")).distinct().transform(pin)
    n = nodes.count()  # materializes the pin

    labels = nodes.select("node", F.col("node").alias("community"))
    for _ in range(iterations):
        counts = (
            und.join(_broadcast_small(labels, n), und["__src"] == labels["node"])
            .groupBy(F.col("__dst").alias("__n"), "community")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        # argmax by (count desc, label asc) as ONE struct-min
        # aggregation — bit-identical to the previous row_number
        # window pick but partial-aggregatable and sort-free (r12;
        # counts are >= 1 so -__cnt never overflows)
        best = (
            counts.groupBy(F.col("__n").alias("node"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("__cnt")).alias("__neg"),
                        F.col("community"),
                    ),
                ).alias("__s"),
            )
            .select("node", F.col("__s.community").alias("__new"))
        )
        # Lazy: materialized by the next round's broadcast build / the
        # caller's action — keeps the plan one scan deep without a
        # per-round job.
        labels = (
            labels.join(_broadcast_small(best, n), "node", "left")
            .select("node", F.coalesce("__new", "community").alias("community"))
            .transform(pin)
        )
    # Materialize the whole lazy chain (one action; ``und`` computes
    # once and is reused from cache) before releasing the cache.
    labels.count()
    und.unpersist()
    return labels
