"""Unit tests for round-7 isotonic calibration
(classify.isotonic_calibrate / isotonic_apply): the driver-side
pool-adjacent-violators fit must equal the textbook sequential walk,
and equal bit-for-bit the minimax DataFrame algebra the DuckDB oracles
replay; the calibration table must be a local relation that reading
and applying launch no job over."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from rdsa_utils_spark.operators.classify import (
    calibrated_gate,
    isotonic_apply,
    isotonic_calibrate,
    isotonic_step_expr,
)
from rdsa_utils_spark.operators.windows import constant_partition_key
from rdsa_utils_spark.plans.tuning import pin
from tests.conftest import jobs_in


def _pav(points):
    """Sequential PAV over [(n, n_pos)] ordered by score; returns the
    fitted value per input position — the textbook reference."""
    stack = []  # [n, sum_y, n_positions]
    for n, sy in points:
        stack.append([n, float(sy), 1])
        while len(stack) > 1 and (
            stack[-2][1] / stack[-2][0] >= stack[-1][1] / stack[-1][0]
        ):
            n2, s2, c2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += s2
            stack[-1][2] += c2
    out = []
    for n, sy, c in stack:
        out.extend([sy / n] * c)
    return out


def _frame(spark, per_score):
    # per_score: {score: (n, n_pos)}
    rows = []
    for s, (n, npos) in per_score.items():
        rows += [(float(s), 1.0)] * npos + [(float(s), 0.0)] * (n - npos)
    return spark.createDataFrame(rows, "s double, y double")


def test_hand_computed_violation_pooling(spark):
    df = _frame(
        spark,
        {1: (10, 1), 2: (10, 6), 3: (10, 4), 4: (10, 8), 5: (10, 7)},
    )
    out = isotonic_calibrate(df, "s", "y", score_round=1).collect()
    assert [r["p_cal"] for r in out] == [0.1, 0.5, 0.5, 0.75, 0.75]
    assert [r["n_pos"] for r in out] == [1, 6, 4, 8, 7]


def test_matches_sequential_pav_on_random_tables(spark):
    rng = random.Random(7)
    for trial in range(5):
        ks = rng.randint(3, 12)
        per_score = {
            k: (rng.randint(1, 20), 0) for k in range(ks)
        }
        per_score = {
            k: (n, rng.randint(0, n)) for k, (n, _) in per_score.items()
        }
        df = _frame(spark, per_score)
        got = [
            r["p_cal"]
            for r in isotonic_calibrate(df, "s", "y", score_round=0).collect()
        ]
        want = [
            round(v, 6)
            for v in _pav([per_score[k] for k in sorted(per_score)])
        ]
        assert got == pytest.approx(want), f"trial {trial}: {got} != {want}"


def test_monotone_and_mass_preserving(spark):
    rng = random.Random(11)
    per_score = {k: (rng.randint(2, 15), 0) for k in range(8)}
    per_score = {k: (n, rng.randint(0, n)) for k, (n, _) in per_score.items()}
    df = _frame(spark, per_score)
    rows = isotonic_calibrate(df, "s", "y", score_round=0).collect()
    p = [r["p_cal"] for r in rows]
    assert p == sorted(p)  # non-decreasing
    # PAV preserves total positive mass: sum(n * p_cal) == sum(n_pos)
    mass = sum(r["n"] * r["p_cal"] for r in rows)
    assert mass == pytest.approx(sum(r["n_pos"] for r in rows), abs=1e-3)


def test_already_monotone_input_is_identity(spark):
    df = _frame(spark, {1: (10, 1), 2: (10, 5), 3: (10, 9)})
    out = isotonic_calibrate(df, "s", "y", score_round=1).collect()
    assert [r["p_cal"] for r in out] == [0.1, 0.5, 0.9]


def test_nulls_excluded_and_validation(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (None, 1.0), (1.0, None), (2.0, 0.0)],
        "s double, y double",
    )
    rows = isotonic_calibrate(df, "s", "y").collect()
    assert sum(r["n"] for r in rows) == 2
    with pytest.raises(ValueError, match="score_round"):
        isotonic_calibrate(df, "s", "y", score_round=-1)


def test_apply_is_backward_step_function(spark):
    cal_src = _frame(spark, {1: (10, 2), 3: (10, 8)})
    cal = isotonic_calibrate(cal_src, "s", "y", score_round=1)
    new = spark.createDataFrame(
        [(0.5,), (1.0,), (2.0,), (3.0,), (9.0,)], "s double",
    )
    got = {
        r["s"]: r["p_cal"]
        for r in isotonic_apply(new, cal, "s", score_round=1).collect()
    }
    assert got[0.5] is None  # below the calibration range
    assert got[1.0] == 0.2
    assert got[2.0] == 0.2  # steps hold until the next knot
    assert got[3.0] == 0.8
    assert got[9.0] == 0.8


def _minimax_calibrate(df, score_col, label_col, *, score_round, round_to):
    """Reference fit: PAV's minimax characterization
    ``iso(k) = max_{i<=k} min_{j>=k} avg(y[i..j])`` as DataFrame
    algebra — prefix sums over the distinct-score table, an ``i <= j``
    pair grid of double ratios of integer sums, and two partitioned
    running-extremum windows. The same algebra the DuckDB oracles of
    ``isotonic_discount_returns``, ``calibrated_gate_discounts`` and
    ``curation_e2e`` replay in SQL."""
    g = (
        df.select(
            F.round(F.col(score_col).cast("double"), score_round).alias("__s"),
            F.col(label_col).cast("double").alias("__y"),
        )
        .filter(F.col("__s").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__s")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__y").cast("long").alias("n_pos"),
        )
        .transform(pin)
    )
    w_pre = Window.partitionBy(constant_partition_key("__s")).orderBy(
        "__s",
    ).rowsBetween(Window.unboundedPreceding, 0)
    p = g.select(
        "__s",
        "n",
        "n_pos",
        F.sum("n").over(w_pre).alias("__cn"),
        F.sum("n_pos").over(w_pre).alias("__cp"),
    ).transform(pin)
    lhs = p.select(
        F.col("__s").alias("si"),
        (F.col("__cp") - F.col("n_pos")).alias("__cp_lt"),
        (F.col("__cn") - F.col("n")).alias("__cn_lt"),
    )
    rhs = p.select(
        F.col("__s").alias("sj"),
        F.col("__cp").alias("__cp_j"),
        F.col("__cn").alias("__cn_j"),
    )
    pairs = F.broadcast(lhs).join(rhs, F.col("si") <= F.col("sj")).select(
        "si",
        "sj",
        (
            (F.col("__cp_j") - F.col("__cp_lt")).cast("double")
            / (F.col("__cn_j") - F.col("__cn_lt")).cast("double")
        ).alias("__a"),
    )
    w_min = (
        Window.partitionBy("si")
        .orderBy(F.col("sj").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_max = (
        Window.partitionBy("sj")
        .orderBy(F.col("si").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    iso = (
        pairs.withColumn("__mn", F.min("__a").over(w_min))
        .withColumn("__iso", F.max("__mn").over(w_max))
        .filter(F.col("si") == F.col("sj"))
        .select(F.col("sj").alias("__s"), "__iso")
    )
    return (
        g.join(iso, "__s")
        .select(
            F.col("__s").alias("score"),
            "n",
            "n_pos",
            (F.round(F.col("__iso"), round_to) + F.lit(0.0)).alias("p_cal"),
        )
        .orderBy("score")
    )


def _knot_spec(rng, k, total):
    """``k`` knots of (n, n_pos) with about ``total`` rows: a noisy
    rising rate, cliffs that force one pooled block across many knots,
    and knots whose rate repeats its neighbour's exactly (tied means)."""
    spec = []
    cliff = 0
    for i in range(k):
        n = rng.randint(1, max(1, 2 * total // k))
        if cliff == 0 and rng.random() < 0.05:
            cliff = rng.randint(5, max(6, k // 3))
            rate = 0.9 + 0.1 * rng.random()  # high, then a long low run
        elif cliff > 0:
            cliff -= 1
            rate = 0.1 * rng.random()
        else:
            rate = min(1.0, max(0.0, i / k + rng.uniform(-0.3, 0.3)))
        if spec and rng.random() < 0.1:
            m = rng.randint(1, 3)  # same rational as the previous knot
            n, n_pos = spec[-1][0] * m, spec[-1][1] * m
        else:
            n_pos = round(n * rate)
        spec.append((n, n_pos))
    return spec


def _expand(spark, spec):
    """Raw rows for a knot spec: knot i sits at score i/100, every
    third row jittered by +0.001 (quantizes to the same knot)."""
    values = ", ".join(f"({i}, {n}, {p})" for i, (n, p) in enumerate(spec))
    knots = spark.sql(f"SELECT * FROM VALUES {values} AS t(i, n, p)")
    rows = knots.select(
        "i", "p", F.explode(F.sequence(F.lit(1), F.col("n").cast("int"))).alias("j"),
    )
    return rows.select(
        (
            F.col("i") / F.lit(100.0)
            + F.when(F.col("j") % 3 == 0, F.lit(0.001)).otherwise(F.lit(0.0))
        ).alias("s"),
        (F.col("j") <= F.col("p")).cast("double").alias("y"),
    )


def test_equals_minimax_reference_bit_for_bit(spark):
    rng = random.Random(20)
    for trial in range(20):
        k = rng.choice([1, 2, 7, 40, 150, 300])
        total = rng.choice([k, 2_000, 50_000, 1_000_000])
        df = _expand(spark, _knot_spec(rng, k, total))
        # round_to=30 keeps the raw double (above 1e-13): equal doubles,
        # not just equal 6-dp roundings
        for round_to in (30, 6) if trial % 4 == 0 else (30,):
            got = isotonic_calibrate(
                df, "s", "y", score_round=2, round_to=round_to,
            ).collect()
            want = _minimax_calibrate(
                df, "s", "y", score_round=2, round_to=round_to,
            ).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want], (
                f"trial {trial} (k={k}, total={total}, round_to={round_to})"
            )


def _ramp(spark, k):
    """k distinct 2-dp scores, 10 rows each, with a rising positive
    rate. Built through explode so that, as with a table scan, the
    optimizer cannot bound the row count: a bound at or below
    ``max_knots + 1`` drops the limit and plans a full sort instead."""
    rows = spark.range(0, k, 1, 4).select(
        "id", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("j"),
    )
    return rows.select(
        (F.col("id") / F.lit(100.0)).alias("s"),
        (F.col("j") < F.col("id") * 10 / k).cast("double").alias("y"),
    )


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_calibration_table_is_local_and_applying_it_launches_no_job(spark, arrow):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, arrow)
    try:
        df = _ramp(spark, 60)
        cal, jobs = jobs_in(
            spark, lambda: isotonic_calibrate(df, "s", "y", score_round=2),
        )
        assert jobs <= 2  # AQE's map stage plus the result
        plan = cal._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", plan.toString()
        assert [r["score"] for r in cal.collect()] == [i / 100 for i in range(60)]
        _, jobs = jobs_in(
            spark, lambda: isotonic_step_expr(cal, "s", score_round=2),
        )
        assert jobs == 0
        _, jobs = jobs_in(
            spark, lambda: calibrated_gate(df, cal, "s", 0.5, score_round=2),
        )
        assert jobs == 0
    finally:
        spark.conf.set(key, before)


def test_max_knots_boundary(spark):
    df = _ramp(spark, 40)
    assert len(isotonic_calibrate(df, "s", "y", score_round=2, max_knots=40).collect()) == 40
    with pytest.raises(ValueError, match="max_knots"):
        isotonic_calibrate(df, "s", "y", score_round=2, max_knots=39)


def test_empty_input_keeps_the_schema(spark):
    df = spark.range(3).select(
        F.lit(None).cast("double").alias("s"), F.lit(1.0).alias("y"),
    )
    cal = isotonic_calibrate(df, "s", "y")
    assert cal.collect() == []
    assert cal.columns == ["score", "n", "n_pos", "p_cal"]
    assert [f.dataType.simpleString() for f in cal.schema] == [
        "double", "bigint", "bigint", "double",
    ]
