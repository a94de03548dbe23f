"""Shared pytest fixtures (model: reference test_utils.py session fixture,
re-designed for this engine's local profile)."""

from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdsa_utils_spark.session import create_spark_session  # noqa: E402
from tools.check_oracle import _rows_key  # noqa: E402

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    session = create_spark_session(
        "rdsa-utils-spark-tests",
        size="local",
        extra_configs={
            "spark.sql.shuffle.partitions": "4",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield session


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def duck(sf_dir):
    """DuckDB connection with one view per fixture table, for oracles."""
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')",
        )
    yield con
    con.close()


def assert_matches_oracle(sdf, duck, sql):
    """The oracle gate's compare (``tools/check_oracle.py``): column
    names, row count, and an order-insensitive value comparison
    against the DuckDB result."""
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    duck_res = duck.execute(sql)
    duck_cols = [d[0] for d in duck_res.description]
    duck_rows = duck_res.fetchall()
    assert sorted(spark_cols) == sorted(duck_cols)
    assert len(spark_rows) == len(duck_rows)
    assert _rows_key(spark_rows, spark_cols) == _rows_key(duck_rows, duck_cols)


def jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"jobs-in-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_df_equal(actual, expected, sort_cols=None, approx=None):
    """Exact (or approx for floats) DataFrame equality on sorted rows."""
    acols, ecols = actual.columns, expected.columns
    assert acols == ecols, f"columns differ: {acols} vs {ecols}"
    if sort_cols:
        actual = actual.orderBy(*sort_cols)
        expected = expected.orderBy(*sort_cols)
    arows = [tuple(r) for r in actual.collect()]
    erows = [tuple(r) for r in expected.collect()]
    assert len(arows) == len(erows), f"row counts differ: {len(arows)} vs {len(erows)}"
    for i, (a, e) in enumerate(zip(arows, erows)):
        for j, (av, ev) in enumerate(zip(a, e)):
            if approx is not None and isinstance(av, float) and isinstance(ev, float):
                assert abs(av - ev) <= approx, f"row {i} col {acols[j]}: {av} != {ev}"
            else:
                assert av == ev, f"row {i} col {acols[j]}: {av!r} != {ev!r}"


def pytest_collection_modifyitems(config, items):
    """Apply @pytest.mark.slow from the checked-in duration-measured
    list (tests/slow_tests.txt) — the fast dev lane is
    ``pytest -m "not slow"`` (~14 min vs ~34 min full; see pytest.ini).
    The list names tests measured >= 2.5 s (call+setup) in a full-suite
    run; every module keeps at least its fastest test in the fast lane
    so the whole operator surface still executes there once.
    Parametrized cases inherit their base test id's marking."""
    listing = os.path.join(os.path.dirname(__file__), "slow_tests.txt")
    try:
        with open(listing) as fh:
            slow_ids = {
                ln.strip() for ln in fh
                if ln.strip() and not ln.startswith("#")
            }
    except OSError:
        return
    for item in items:
        base = item.nodeid.split("[", 1)[0]
        if item.nodeid in slow_ids or base in slow_ids:
            item.add_marker(pytest.mark.slow)
