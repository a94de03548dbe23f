"""Tests for join extensions (as-of, range) and event-time windows."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.joins import asof_join, join_multi_dfs, range_join
from rdsa_utils_spark.streaming.windows_time import (
    session_window_agg,
    sessionize_by_gap,
    sliding_window_agg,
    tumbling_window_agg,
)


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_join_multi_dfs_broadcast(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "k long, a string")
    b = spark.createDataFrame([(1, 10.0)], "k long, b double")
    c = spark.createDataFrame([(1, True)], "k long, c boolean")
    out = join_multi_dfs([a, b, c], on="k", how="inner")
    assert out.count() == 1
    assert set(out.columns) == {"k", "a", "b", "c"}
    with pytest.raises(ValueError):
        join_multi_dfs([a, b], on="k", how="sideways")


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [(1, "A", 3.0), (2, "A", 7.0), (3, "B", 5.0)],
        "trade_id long, sym string, t double",
    )
    quotes = spark.createDataFrame(
        [("A", 1.0, 100.0), ("A", 6.0, 101.0), ("B", 9.0, 200.0)],
        "sym string, t double, px double",
    )
    out = asof_join(trades, quotes, on="t", by="sym", direction="backward")
    rows = {r["trade_id"]: r["px"] for r in out.collect()}
    assert rows == {1: 100.0, 2: 101.0, 3: None}


def test_asof_join_forward_and_tolerance(spark):
    left = spark.createDataFrame([(1, 5.0)], "id long, t double")
    right = spark.createDataFrame([(8.0, "hit"), (30.0, "far")], "t double, tag string")
    fwd = asof_join(left, right, on="t", direction="forward")
    assert fwd.first()["tag"] == "hit"
    tol = asof_join(left, right, on="t", direction="forward", tolerance=2.0)
    assert tol.first()["tag"] is None


def test_asof_join_tie_matches(spark):
    left = spark.createDataFrame([(1, 5.0)], "id long, t double")
    right = spark.createDataFrame([(5.0, "same")], "t double, tag string")
    out = asof_join(left, right, on="t", direction="backward")
    assert out.first()["tag"] == "same"


def test_range_join(spark):
    points = spark.createDataFrame(
        [(1, 0.5), (2, 25.0), (3, 99.9), (4, 100.0)], "id long, v double",
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 50.0), (20, 50.0, 100.0)], "bucket long, lo double, hi double",
    )
    out = range_join(points, intervals, "v", "lo", "hi", bucket_width=50.0)
    rows = {r["id"]: r["bucket"] for r in out.collect()}
    assert rows == {1: 10, 2: 10, 3: 20}  # 100.0 excluded (hi-exclusive)


def test_range_join_with_by_cols(spark):
    points = spark.createDataFrame(
        [(1, "g1", 5.0), (2, "g2", 5.0), (3, "g1", 75.0)],
        "id long, grp string, v double",
    )
    intervals = spark.createDataFrame(
        [("g1", 10, 0.0, 50.0), ("g2", 20, 0.0, 50.0), ("g1", 30, 50.0, 100.0)],
        "grp string, bucket long, lo double, hi double",
    )
    out = range_join(points, intervals, "v", "lo", "hi", bucket_width=50.0, by="grp")
    rows = {r["id"]: r["bucket"] for r in out.collect()}
    # same v=5.0 lands in a different interval per group; no cross-group hits
    assert rows == {1: 10, 2: 20, 3: 30}
    assert out.columns.count("grp") == 1


def test_range_join_left_keeps_unmatched(spark):
    points = spark.createDataFrame(
        [(1, 5.0), (2, 999.0)], "id long, v double",
    )
    intervals = spark.createDataFrame(
        [(10, 0.0, 50.0)], "bucket long, lo double, hi double",
    )
    out = range_join(points, intervals, "v", "lo", "hi", bucket_width=50.0, how="left")
    rows = {r["id"]: r["bucket"] for r in out.collect()}
    assert rows == {1: 10, 2: None}  # unmatched left row survives NULL-extended


def test_range_join_rejects_outer(spark):
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    iv = spark.createDataFrame([(1, 0.0, 2.0)], "b long, lo double, hi double")
    with pytest.raises(ValueError, match="inner/left"):
        range_join(df, iv, "v", "lo", "hi", bucket_width=1.0, how="full")


def test_tumbling_and_sliding_windows(spark):
    df = spark.createDataFrame(
        [
            (_ts("2024-01-01T00:10:00"), "a", 1.0),
            (_ts("2024-01-01T00:50:00"), "a", 2.0),
            (_ts("2024-01-01T01:10:00"), "a", 4.0),
        ],
        "ts timestamp, k string, v double",
    )
    t = tumbling_window_agg(df, "ts", "1 hour", {"n": F.count(F.lit(1))}, keys=["k"])
    rows = {str(r["window_start"]): r["n"] for r in t.collect()}
    assert rows == {"2024-01-01 00:00:00": 2, "2024-01-01 01:00:00": 1}
    s = sliding_window_agg(df, "ts", "1 hour", "30 minutes", {"n": F.count(F.lit(1))})
    assert s.count() >= 3  # overlapping windows


def test_session_window_and_gap_sessionize(spark):
    df = spark.createDataFrame(
        [
            (_ts("2024-01-01T00:00:00"), 1),
            (_ts("2024-01-01T00:10:00"), 1),
            (_ts("2024-01-01T02:00:00"), 1),
            (_ts("2024-01-01T00:00:00"), 2),
        ],
        "ts timestamp, user long",
    )
    sw = session_window_agg(
        df, "ts", "30 minutes", {"n": F.count(F.lit(1))}, keys=["user"],
    )
    per_user = {}
    for r in sw.collect():
        per_user.setdefault(r["user"], []).append(r["n"])
    assert sorted(per_user[1]) == [1, 2]
    assert per_user[2] == [1]

    sess = sessionize_by_gap(df, "ts", "user", gap_seconds=1800.0)
    got = {(r["user"], str(r["ts"])): r["session_id"] for r in sess.collect()}
    assert got[(1, "2024-01-01 00:00:00")] == 1
    assert got[(1, "2024-01-01 00:10:00")] == 1
    assert got[(1, "2024-01-01 02:00:00")] == 2
    assert got[(2, "2024-01-01 00:00:00")] == 1


def test_salted_join_matches_plain_join(spark, sf_dir):
    from rdsa_utils_spark.operators.joins import salted_join
    from rdsa_utils_spark.sources.readers import read_parquet

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity",
    )
    orders = read_parquet(spark, f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderpriority",
    )
    plain = li.join(orders, li.l_orderkey == orders.o_orderkey).count()
    salted = salted_join(
        li, orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        on="l_orderkey", salt_buckets=8,
    ).count()
    assert salted == plain

    # left join keeps unmatched left rows exactly once
    import pyspark.sql.functions as F

    li_extra = li.union(
        spark.createDataFrame([(-1, 1.0)], "l_orderkey long, l_quantity double"),
    )
    out = salted_join(
        li_extra, orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        on="l_orderkey", how="left", salt_buckets=8,
    )
    assert out.filter(F.col("l_orderkey") == -1).count() == 1

    import pytest

    with pytest.raises(ValueError):
        salted_join(li, orders, on="l_orderkey", how="right")
