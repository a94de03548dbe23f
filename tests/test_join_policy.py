"""Planner facts the join-strategy policy relies on.

The session's broadcast threshold plus AQE choose join strategies
(``session._COMMON_CONFIGS``); code hints a join only where the
planner cannot see a side's size. Each case pins one fact that the
deleted hints or the kept ones depend on, so a Spark upgrade or a
conf change that breaks it fails here first.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import _pin_with_lineage, plan_size_in_bytes
from rdsa_utils_spark.sources.readers import read_parquet

_LONG_MAX = (1 << 63) - 1

_DEVICES = {
    "local": lambda df: df.localCheckpoint(eager=False),
    "lineage": lambda df: _pin_with_lineage(df, eager=False),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("device", sorted(_DEVICES))
def test_one_row_aggregate_cross_join_needs_no_hint(spark, sf_dir, device):
    # A global aggregate with no grouping has one row by construction;
    # Catalyst knows it even over a pin without a size statistic.
    orders = _DEVICES[device](read_parquet(spark, f"{sf_dir}/orders.parquet"))
    total = orders.agg(F.sum("o_totalprice").alias("total"))
    plan = _plan(orders.crossJoin(total))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_dimension_scan_join_needs_no_hint(spark, sf_dir):
    nation = read_parquet(spark, f"{sf_dir}/nation.parquet")
    lineitem = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    supplier = read_parquet(spark, f"{sf_dir}/supplier.parquet")
    li = lineitem.join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
    plan = _plan(li.join(nation, F.col("s_nationkey") == F.col("n_nationkey")))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lineage_pin_has_no_size_statistic(spark, sf_dir):
    # On a cluster master a pin's scan reports Long.MaxValue bytes, so
    # only a hint makes a join over it a broadcast join.
    nation = _pin_with_lineage(read_parquet(spark, f"{sf_dir}/nation.parquet"), eager=False)
    region = _pin_with_lineage(read_parquet(spark, f"{sf_dir}/region.parquet"), eager=False)
    assert plan_size_in_bytes(nation) == _LONG_MAX
    cond = F.col("n_regionkey") == F.col("r_regionkey")
    assert "SortMergeJoin" in _plan(nation.join(region, cond))
    assert "BroadcastHashJoin" in _plan(nation.join(F.broadcast(region), cond))
