"""Tests for sources/sinks, catalog ops, session factory, plan tuning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rdsa_utils_spark.exceptions import DataframeEmptyError
from rdsa_utils_spark.plans.tuning import (
    cache_time_df,
    cut_lineage,
    plan_size_in_bytes,
    set_df_columns_nullable,
    smart_coalesce,
)
from rdsa_utils_spark.session import SESSION_PRESETS, create_spark_session
from rdsa_utils_spark.sources.catalog import (
    extract_database_name,
    get_current_database,
    get_tables_in_database,
    table_exists,
)
from rdsa_utils_spark.sources.readers import (
    build_sql_query,
    load_and_validate_table,
    load_csv,
    load_json,
    read_parquet,
    read_table,
    register_tables,
)
from rdsa_utils_spark.sources.writers import (
    insert_df_to_table,
    save_single_file_csv,
    truncate_table,
    write_and_read_table,
    write_table,
)
from tests.conftest import jobs_in


def test_session_presets_shape():
    assert set(SESSION_PRESETS) == {"small", "medium", "large", "extra-large"}
    with pytest.raises(ValueError, match="size must be one of"):
        create_spark_session(size="gigantic")


def test_read_parquet_post_processing(spark, sf_dir):
    df = read_parquet(
        spark,
        f"{sf_dir}/region.parquet",
        keep_columns=["r_regionkey", "r_name"],
        rename_columns={"r_name": "region_name"},
    )
    assert df.columns == ["r_regionkey", "region_name"]
    with pytest.raises(ValueError, match="keep_columns"):
        read_parquet(spark, f"{sf_dir}/region.parquet", keep_columns=["nope"])
    with pytest.raises(ValueError, match="rename_columns"):
        read_parquet(spark, f"{sf_dir}/region.parquet", rename_columns={"x": "y"})
    with pytest.raises(ValueError, match="drop_columns"):
        read_parquet(spark, f"{sf_dir}/region.parquet", drop_columns=["x"])


def test_read_parquet_nanos(spark, sf_dir):
    df = read_parquet(spark, f"{sf_dir}/events.parquet")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    assert df.count() > 0


def test_load_csv_roundtrip(spark, tmp_path):
    src = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5)], "id int, name string, v double",
    )
    path = str(tmp_path / "csvdir")
    src.write.option("header", "true").csv(path)
    df = load_csv(
        spark, path, keep_columns=["id", "v"], rename_columns={"v": "value"},
        inferSchema="true",
    )
    assert df.columns == ["id", "value"]
    assert df.count() == 2


def test_load_json(spark, tmp_path):
    p = tmp_path / "data.json"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    df = load_json(spark, str(p))
    assert df.count() == 2 and set(df.columns) == {"a", "b"}


def test_register_tables_and_catalog(spark, sf_dir):
    tables = register_tables(spark, sf_dir)
    assert "lineitem" in tables and "region" in tables
    assert table_exists(spark, "region")
    assert get_current_database(spark) == "default"
    assert extract_database_name("db.tbl") == ("db", "tbl")
    assert extract_database_name("cat.db.tbl") == ("db", "tbl")
    assert extract_database_name("tbl") == (None, "tbl")
    with pytest.raises(ValueError):
        extract_database_name("a.b.c.d")


def test_load_and_validate_table(spark, sf_dir):
    register_tables(spark, sf_dir, ["region"])
    df = load_and_validate_table(spark, "region", filter_cond="r_regionkey >= 2")
    assert df.count() == 3
    with pytest.raises(DataframeEmptyError, match="empty"):
        load_and_validate_table(spark, "region", filter_cond="r_regionkey > 99")
    # skip_validation returns the empty frame without raising
    df2 = load_and_validate_table(
        spark, "region", skip_validation=True, filter_cond="r_regionkey > 99",
    )
    assert df2.count() == 0


def test_build_sql_query_and_read_table(spark, sf_dir):
    register_tables(spark, sf_dir, ["orders"])
    sql = build_sql_query(
        "orders",
        columns=["o_orderkey", "o_orderdate", "o_orderstatus"],
        date_column="o_orderdate",
        date_range=["1996-01-01", "1996-12-31"],
        column_filter_dict={"o_orderstatus": ["F", "P"]},
    )
    assert "BETWEEN" in sql and "o_orderstatus = 'F' OR o_orderstatus = 'P'" in sql
    df = read_table(
        spark,
        "orders",
        columns=["o_orderkey", "o_orderdate", "o_orderstatus"],
        date_column="o_orderdate",
        date_range=["1996-01-01", "1996-12-31"],
        column_filter_dict={"o_orderstatus": ["F", "P"]},
    )
    stats = df.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi"),
    ).first()
    assert str(stats["lo"]).startswith("1996")
    assert str(stats["hi"]).startswith("1996")
    assert set(r["o_orderstatus"] for r in df.select("o_orderstatus").distinct().collect()) <= {"F", "P"}
    with pytest.raises(ValueError, match="partition_type"):
        build_sql_query("t", partition_column="ts", partition_type="minute", partition_value="x")
    # embedded single quotes are ANSI-doubled, not emitted raw
    quoted = build_sql_query("t", column_filter_dict={"name": ["O'Brien"]})
    assert "name = 'O''Brien'" in quoted


def test_insert_write_read_truncate_table(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS io_test")
    try:
        df = spark.createDataFrame(
            [(1, "x", 1.0), (2, "y", 2.0)], "id long, name string, v double",
        )
        insert_df_to_table(spark, df, "io_test.t1")
        assert spark.read.table("io_test.t1").count() == 2
        # append with missing column -> NULL-filled with table type
        df2 = spark.createDataFrame([(3, "z")], "id long, name string")
        insert_df_to_table(spark, df2, "io_test.t1", fill_missing_cols=True)
        rows = {r["id"]: r["v"] for r in spark.read.table("io_test.t1").collect()}
        assert rows[3] is None and len(rows) == 3
        with pytest.raises(ValueError, match="missing table columns"):
            insert_df_to_table(spark, df2, "io_test.t1", fill_missing_cols=False)
        # write_and_read with run-id filter
        df3 = spark.createDataFrame(
            [(10, "r", 9.0)], "id long, name string, v double",
        )
        out = write_and_read_table(spark, df3, "io_test.t1", filter_id=10, filter_col="id")
        assert out.count() == 1
        # overwrite
        insert_df_to_table(spark, df, "io_test.t1", overwrite=True)
        assert spark.read.table("io_test.t1").count() == 2
        truncate_table(spark, "io_test.t1")
        assert spark.read.table("io_test.t1").count() == 0
        assert spark.read.table("io_test.t1").columns == ["id", "name", "v"]
    finally:
        spark.sql("DROP DATABASE IF EXISTS io_test CASCADE")


def test_save_single_file_csv(spark, tmp_path):
    df = spark.createDataFrame([(i, f"n{i}") for i in range(10)], "id long, name string")
    out = str(tmp_path / "out.csv")
    save_single_file_csv(df.orderBy("id"), out)
    body = open(out).read().splitlines()
    assert body[0] == "id,name" and len(body) == 11
    with pytest.raises(FileExistsError):
        save_single_file_csv(df, out)
    save_single_file_csv(df, out, overwrite=True)
    with pytest.raises(ValueError, match="Refusing single-file export"):
        save_single_file_csv(df, str(tmp_path / "big.csv"), max_rows_guard=5)


def test_write_table_partitioned_clustered(spark, sf_dir, tmp_path):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    out = str(tmp_path / "ev_parts")
    write_table(
        ev, out, partition_col="ts", partition_type="day",
        clustered_fields=["user_id"],
    )
    parts = [d for d in os.listdir(out) if d.startswith("ts_day=")]
    assert len(parts) > 1  # one dir per day
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    with pytest.raises(ValueError, match="at most 4"):
        write_table(ev, out, clustered_fields=["a", "b", "c", "d", "e"])


def test_plan_tuning(spark, sf_dir):
    df = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    assert plan_size_in_bytes(df) > 0
    small = smart_coalesce(df, target_file_size=1 << 40)
    assert small.rdd.getNumPartitions() == 1
    cut = cut_lineage(df.filter(F.col("l_quantity") > 0))
    assert cut.count() == df.filter(F.col("l_quantity") > 0).count()
    cached, secs, n = cache_time_df(df)
    assert n == df.count() and secs >= 0
    cached.unpersist()
    relaxed = set_df_columns_nullable(spark, df, ["l_orderkey"], nullable=True)
    assert relaxed.schema["l_orderkey"].nullable is True
    forced = set_df_columns_nullable(
        spark, df.limit(10), ["l_orderkey"], nullable=False, use_rdd_rebuild=True,
    )
    assert forced.schema["l_orderkey"].nullable is False


def test_read_binary_files_and_guard(spark, tmp_path):
    from rdsa_utils_spark.sources.readers import read_binary_files

    (tmp_path / "a.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "b.bin").write_bytes(b"\x03" * 1000)
    (tmp_path / "c.txt").write_text("not binary")
    df = read_binary_files(spark, str(tmp_path), glob_filter="*.bin")
    rows = {r["path"].split("/")[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert bytes(rows["a.bin"]["content"]) == b"\x00\x01\x02"
    assert rows["b.bin"]["length"] == 1000
    small = read_binary_files(spark, str(tmp_path), glob_filter="*.bin", max_bytes=10)
    assert [r["path"].split("/")[-1] for r in small.collect()] == ["a.bin"]


def test_load_orc_roundtrip(spark, tmp_path):
    from rdsa_utils_spark.sources.readers import load_orc

    src = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
    path = str(tmp_path / "orc_ds")
    src.write.orc(path)
    out = load_orc(spark, path, rename_columns={"v": "val"})
    assert sorted((r["id"], r["val"]) for r in out.collect()) == [(1, "x"), (2, "y")]


def test_read_parquet_handles_int96_timestamps(spark, tmp_path):
    """Spark-written INT96 timestamps look like timestamp[ns] to
    pyarrow; the nanos-safe reader must NOT apply the INT64-NANOS
    detour to them (regression: TIMESTAMP div BIGINT type error)."""
    import datetime

    from rdsa_utils_spark.sources.readers import read_parquet

    path = str(tmp_path / "int96")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        spark.createDataFrame(
            [(1, datetime.datetime(2024, 3, 1, 12, 30, 15, 123456))],
            "id long, ts timestamp",
        ).write.parquet(path)
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    got = read_parquet(spark, path).collect()
    assert got[0].ts == datetime.datetime(2024, 3, 1, 12, 30, 15, 123456)


# --------------------------------------------------------------------------
# read_parquet schema catalog
# --------------------------------------------------------------------------


def test_read_parquet_int64_nanos_miss_then_hit(spark, tmp_path):
    """A real INT64 TIMESTAMP(NANOS) file takes the nanosAsLong detour
    on the inferring read and on the cached one alike."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.legacy.parquet.nanosAsLong"
    ns = [1_700_000_000_123_456_789, 1_600_000_000_000_001_999]
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"id": [1, 2], "ts": pa.array(ns, type=pa.timestamp("ns"))}),
        path,
    )
    col = pq.ParquetFile(path).schema.column(1)
    assert col.physical_type == "INT64" and "timeUnit=nanoseconds" in str(col.logical_type)
    before = spark.conf.get(key, "false")
    for expected_jobs in (None, 0):  # miss, then hit
        df, jobs = jobs_in(spark, lambda: read_parquet(spark, path))
        if expected_jobs is not None:
            assert jobs == expected_jobs
        assert spark.conf.get(key, "false") == before
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        got = sorted(
            (r.id, r.us) for r in df.select("id", F.unix_micros("ts").alias("us")).collect()
        )
        assert got == [(1, ns[0] // 1000), (2, ns[1] // 1000)]


def test_read_parquet_second_read_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string").write.parquet(path)
    first, jobs1 = jobs_in(spark, lambda: read_parquet(spark, path))
    second, jobs2 = jobs_in(spark, lambda: read_parquet(spark, path))
    assert jobs1 >= 1  # schema inference
    assert jobs2 == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_read_parquet_overwrite_with_new_schema(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    assert read_parquet(spark, path).columns == ["id", "v"]
    spark.createDataFrame([(2.5,)], "x double").write.mode("overwrite").parquet(path)
    df = read_parquet(spark, path)
    assert df.columns == ["x"]
    assert [r.x for r in df.collect()] == [2.5]


def test_read_parquet_single_file_rewritten_in_place(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [1.5]}), path)
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert [tuple(r) for r in df.collect()] == [("x", 1.5)]


def test_read_parquet_dynamic_partition_overwrite(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b")], "id long, k int, v string",
    ).write.partitionBy("k").parquet(path)
    before = read_parquet(spark, path)
    assert sorted((r.id, r.k, r.v) for r in before.collect()) == [(1, 1, "a"), (2, 2, "b")]
    spark.createDataFrame(
        [(3, 2, "c"), (4, 2, "d")], "id long, k int, v string",
    ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "k",
    ).parquet(path)
    after = read_parquet(spark, path)
    assert after.schema == before.schema
    assert sorted((r.id, r.k, r.v) for r in after.collect()) == [
        (1, 1, "a"), (3, 2, "c"), (4, 2, "d"),
    ]


def test_read_parquet_after_merge_upsert_swap(spark, tmp_path):
    from rdsa_utils_spark.sources.writers import merge_upsert

    path = str(tmp_path / "target")
    schema = "id long, v string"
    merge_upsert(spark, spark.createDataFrame([(1, "a"), (2, "b")], schema), path, ["id"])
    assert sorted(tuple(r) for r in read_parquet(spark, path).collect()) == [(1, "a"), (2, "b")]
    merge_upsert(spark, spark.createDataFrame([(2, "B"), (3, "c")], schema), path, ["id"])
    got = sorted(tuple(r) for r in read_parquet(spark, path).select("id", "v").collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_read_parquet_binary_as_string_is_part_of_the_key(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = "spark.sql.parquet.binaryAsString"
    path = str(tmp_path / "bin.parquet")
    # Written without Spark's schema footer, which would override the conf.
    pq.write_table(pa.table({"id": [1], "b": pa.array([b"hi"], pa.binary())}), path)
    assert read_parquet(spark, path).schema["b"].dataType.simpleString() == "binary"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = read_parquet(spark, path)
        assert df.schema["b"].dataType.simpleString() == "string"
        assert [r.b for r in df.collect()] == ["hi"]
    finally:
        spark.conf.set(key, prev)
    assert read_parquet(spark, path).schema["b"].dataType.simpleString() == "binary"


def test_read_parquet_self_join_of_two_reads(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "id long, parent long",
    ).write.parquet(path)
    child = read_parquet(spark, path)
    parent = read_parquet(spark, path)
    joined = child.join(parent, child["parent"] == parent["id"]).select(
        child["id"].alias("c"), parent["parent"].alias("gp"),
    )
    assert sorted(tuple(r) for r in joined.collect()) == [(1, 3), (2, 1), (3, 2)]


def test_read_parquet_concurrent_readers_get_their_own_schema(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    paths = {
        str(tmp_path / "a"): ["id", "a"],
        str(tmp_path / "b"): ["b", "c", "d"],
    }
    for path, cols in paths.items():
        spark.createDataFrame([tuple(range(len(cols)))], cols).write.parquet(path)
    order = list(paths) * 12
    with ThreadPoolExecutor(max_workers=8) as pool:
        got = list(pool.map(lambda p: read_parquet(spark, p).columns, order, timeout=120))
    assert got == [paths[p] for p in order]


def test_read_parquet_remote_paths_are_not_cached():
    from rdsa_utils_spark.sources.readers import _local_path

    assert _local_path("s3a://bucket/t.parquet") is None
    assert _local_path("gs://bucket/t.parquet") is None
    assert _local_path("file:///data/t.parquet") == "/data/t.parquet"
    assert _local_path("/data/./t.parquet") == "/data/t.parquet"


def test_snapshot_reads_after_write_are_catalog_hits(spark, tmp_path):
    from rdsa_utils_spark.sources.versioned import read_snapshot, write_snapshot

    root = str(tmp_path / "snap")
    write_snapshot(spark.createDataFrame([(1, "a")], ["id", "v"]), root)
    df, jobs = jobs_in(spark, lambda: read_snapshot(spark, root))
    assert jobs == 0
    assert [tuple(r) for r in df.collect()] == [(1, "a")]


# --------------------------------------------------------------------------
# versioned snapshots
# --------------------------------------------------------------------------


class TestVersionedSnapshots:
    def _roots(self, spark, tmp_path):
        from rdsa_utils_spark.sources.versioned import write_snapshot

        root = str(tmp_path / "ds")
        v1 = write_snapshot(
            spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]),
            root, note="first",
        )
        v2 = write_snapshot(
            spark.createDataFrame([(1, "a"), (2, "B"), (3, "c")], ["id", "v"]),
            root, note="second",
        )
        return root, v1, v2

    def test_write_read_latest_and_pinned(self, spark, tmp_path):
        from rdsa_utils_spark.sources.versioned import (
            read_snapshot,
            snapshot_history,
        )

        root, v1, v2 = self._roots(spark, tmp_path)
        assert (v1, v2) == (1, 2)
        assert read_snapshot(spark, root).count() == 3
        assert read_snapshot(spark, root, version=1).count() == 2
        hist = snapshot_history(root)
        assert [h["version"] for h in hist] == [1, 2]
        assert [h["is_current"] for h in hist] == [False, True]
        assert [h["n_rows"] for h in hist] == [2, 3]
        with pytest.raises(ValueError, match="not in manifest"):
            read_snapshot(spark, root, version=9)
        with pytest.raises(FileNotFoundError):
            read_snapshot(spark, str(tmp_path / "nothing"))

    def test_rollback_then_new_write_continues_numbering(self, spark, tmp_path):
        from rdsa_utils_spark.sources.versioned import (
            read_snapshot,
            rollback_snapshot,
            write_snapshot,
        )

        root, v1, v2 = self._roots(spark, tmp_path)
        assert rollback_snapshot(root, 1) == 1
        assert read_snapshot(spark, root).count() == 2   # current = v1
        assert read_snapshot(spark, root, version=2).count() == 3  # still pinnable
        v3 = write_snapshot(
            spark.createDataFrame([(9, "z")], ["id", "v"]), root,
        )
        assert v3 == 3  # numbering never reuses a rolled-back version
        assert read_snapshot(spark, root).count() == 1
        with pytest.raises(ValueError):
            rollback_snapshot(root, 7)

    def test_vacuum_keeps_current_and_reclaims_orphans(self, spark, tmp_path):
        import os

        from rdsa_utils_spark.sources.versioned import (
            read_snapshot,
            rollback_snapshot,
            snapshot_history,
            vacuum_snapshots,
        )

        root, v1, v2 = self._roots(spark, tmp_path)
        rollback_snapshot(root, 1)
        # Orphan dir from a "crashed writer": never entered the manifest.
        os.makedirs(f"{root}/v00099")
        doomed = vacuum_snapshots(root, keep_last=1, dry_run=True)
        assert doomed and all("v00001" not in d for d in doomed)
        removed = vacuum_snapshots(root, keep_last=1)
        # current (v1) survives even though only v2 is the newest entry;
        # the orphan goes.
        names = {d.rsplit("/", 1)[-1] for d in removed}
        assert names == {"v00099"}
        assert read_snapshot(spark, root).count() == 2
        # Drop current forward again and vacuum v1 away.
        rollback_snapshot(root, 2)
        removed2 = vacuum_snapshots(root, keep_last=1)
        assert {d.rsplit("/", 1)[-1] for d in removed2} == {"v00001"}
        assert [h["version"] for h in snapshot_history(root)] == [2]
        with pytest.raises(ValueError):
            vacuum_snapshots(root, keep_last=0)


def test_snapshot_diff_between_versions(spark, tmp_path):
    from rdsa_utils_spark.sources.versioned import snapshot_diff, write_snapshot

    root = str(tmp_path / "ds2")
    write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]), root,
    )
    write_snapshot(
        spark.createDataFrame([(2, "B"), (3, "c")], ["id", "v"]), root,
    )
    out = {r.id: r.diff_status for r in snapshot_diff(spark, root, "id").collect()}
    assert out == {1: "removed", 2: "changed", 3: "added"}
    with pytest.raises(ValueError, match="no predecessor"):
        snapshot_diff(spark, root, "id", v_to=1)
