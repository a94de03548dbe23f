"""Round-13 optimization internals: data-derived parallelism floor
(plans/tuning.py::ensure_parallelism), the machine-derived local
driver heap (session.py local profile) and the session-wide switch-off
of PySpark's per-call call-site capture."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from rdsa_utils_spark.plans.tuning import (
    DEFAULT_SPREAD_TASK_BYTES,
    ensure_parallelism,
    plan_size_in_bytes,
)
from rdsa_utils_spark.session import _COMMON_CONFIGS, _default_driver_memory

_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def _cores(spark) -> int:
    return spark.sparkContext.defaultParallelism


def test_tiny_input_floors_at_eight_not_cores(spark):
    # A KB-sized frame must not be split core-count ways: the target
    # is clamp(size/64KB, min(8, cores), cores), so tiny data lands on
    # the floor. (On boxes with < 8 cores the floor IS the core count.)
    df = spark.range(0, 1000, 1, 1).select(
        F.col("id"), (F.col("id") * 2).alias("v"),
    )
    out = ensure_parallelism(df, keys=["id"])
    expected = min(8, _cores(spark))
    assert out.rdd.getNumPartitions() == expected


def test_bytes_per_task_scales_target_to_cores(spark):
    # A frame estimated at more than cores x 64 KiB is "large": the
    # target caps at the session's core count.
    cores = _cores(spark)
    df = spark.range(0, 2 * cores * DEFAULT_SPREAD_TASK_BYTES // 8, 1, 1)
    assert plan_size_in_bytes(df) > cores * DEFAULT_SPREAD_TASK_BYTES
    out = ensure_parallelism(df, keys=["id"])
    assert out.rdd.getNumPartitions() == cores


def test_already_parallel_input_is_a_noop(spark):
    # The 100 TB case: a scan that already yields >= target partitions
    # must come back unchanged (no exchange inserted).
    n = _cores(spark) + 4
    df = spark.range(0, 1000, 1, n)
    out = ensure_parallelism(df, keys=["id"])
    assert out is df


def test_local_session_heap_is_machine_derived(spark):
    # The local profile must not run on Spark's 1g default: the heap
    # defaults to min(8g, available memory / 4), overridable via
    # SPARK_LOCAL_DRIVER_MEM (see session.py; guide §5).
    if os.environ.get("SPARK_LOCAL_DRIVER_MEM"):
        pytest.skip("explicit SPARK_LOCAL_DRIVER_MEM override in env")
    sc = spark.sparkContext
    if not (sc.master.startswith("local[") and sc.getConf().get("spark.ui.enabled") == "false"):
        pytest.skip("session was not built by the local profile")
    assert spark.conf.get("spark.driver.memory") == _default_driver_memory()


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        fh.write(text)


@pytest.mark.parametrize(
    "proc, files, expected",
    [
        # cgroup v2: the tightest memory.max from the cgroup up to the root
        ("0::/app/job\n", {"app/memory.max": "4294967296\n", "app/job/memory.max": "max\n"}, 4 << 30),
        ("0::/\n", {"memory.max": "max\n"}, None),
        # cgroup v1, with and without the unlimited sentinel
        ("4:memory:/ns\n", {"memory/ns/memory.limit_in_bytes": "2147483648\n"}, 2 << 30),
        ("4:memory:/ns\n", {"memory/ns/memory.limit_in_bytes": "9223372036854771712\n"}, None),
        # container without a cgroup namespace: the limit sits at the mount root
        ("4:cpu,memory:/docker/abc\n", {"memory/memory.limit_in_bytes": "1073741824\n"}, 1 << 30),
    ],
)
def test_cgroup_memory_limit(tmp_path, monkeypatch, proc, files, expected):
    from rdsa_utils_spark import session

    root = tmp_path / "cgroup"
    for rel, text in files.items():
        _write(str(root / rel), text)
    _write(str(tmp_path / "proc_cgroup"), proc)
    monkeypatch.setattr(session, "_CGROUP_ROOT", str(root))
    monkeypatch.setattr(session, "_PROC_CGROUP", str(tmp_path / "proc_cgroup"))
    assert session._cgroup_memory_limit() == expected


def test_default_heap_respects_cgroup_limit(monkeypatch):
    from rdsa_utils_spark import session

    monkeypatch.setattr(session, "_cgroup_memory_limit", lambda: 6 << 30)
    assert session._default_driver_memory() == "1g"


def test_common_configs_turn_off_call_site_capture():
    assert _COMMON_CONFIGS[_DEBUGGING] == "false"


def test_session_reads_call_site_capture_back_as_off(spark):
    assert spark.conf.get(_DEBUGGING) == "false"


def test_errors_stay_typed_without_call_site_capture(spark):
    # Only the Python call-site line of the query context is lost.
    with pytest.raises(AnalysisException):
        spark.range(1).select("no_such_column")
