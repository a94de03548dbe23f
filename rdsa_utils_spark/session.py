"""Sized SparkSession factory.

Capability parity: reference ``rdsa_utils/helpers/pyspark.py:647-796``
(``create_spark_session`` with small/medium/large/extra-large presets,
AQE + dynamic allocation on, Hive support). Re-designed rather than
translated: presets are a dict of configs, a ``local`` profile exists
for tests/CI, and every session pins a UTC timezone and Arrow so that
results are reproducible against external oracles.
"""

from __future__ import annotations

import os
from typing import Mapping, Optional

from pyspark.sql import SparkSession

# Preset name -> spark configs. Cluster presets mirror the reference's
# sizing philosophy (helpers/pyspark.py:744-784): shuffle partitions
# scale with executor count, AQE always on so the static setting is a
# ceiling, dynamic allocation bounded per size.
SESSION_PRESETS: dict[str, dict[str, str]] = {
    "small": {
        "spark.executor.memory": "1g",
        "spark.executor.cores": "1",
        "spark.dynamicAllocation.maxExecutors": "3",
        "spark.sql.shuffle.partitions": "12",
    },
    "medium": {
        "spark.executor.memory": "6g",
        "spark.executor.cores": "3",
        "spark.dynamicAllocation.maxExecutors": "3",
        "spark.sql.shuffle.partitions": "18",
    },
    "large": {
        "spark.executor.memory": "10g",
        "spark.executor.memoryOverhead": "1g",
        "spark.executor.cores": "5",
        "spark.dynamicAllocation.maxExecutors": "5",
        "spark.sql.shuffle.partitions": "200",
    },
    "extra-large": {
        "spark.executor.memory": "20g",
        "spark.executor.memoryOverhead": "2g",
        "spark.executor.cores": "5",
        "spark.dynamicAllocation.maxExecutors": "12",
        "spark.sql.shuffle.partitions": "240",
    },
}

# Configs shared by every session: AQE (runtime shuffle coalescing,
# skew-join splitting, dynamic broadcast switch), Arrow for the
# pandas-UDF path, UTC so timestamps round-trip against any oracle.
_COMMON_CONFIGS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The one join-strategy policy: a side whose size estimate is under
    # this threshold is broadcast at planning, and AQE re-plans a
    # shuffle join as a broadcast one when a stage turns out that small.
    # Code hints a join only where the planner cannot see a side's size,
    # with a ``# broadcast:`` comment saying why (tests/test_pin_policy.py).
    "spark.sql.autoBroadcastJoinThreshold": "10MB",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet is the canonical storage format; always prune + push down.
    "spark.sql.parquet.filterPushdown": "true",
    # Spark 4 infers parquet timestamp[us] (no tz) as TIMESTAMP_NTZ, which
    # breaks casts to numeric and Structured Streaming watermarks
    # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). The engine contract is
    # TimestampType (LTZ) with a UTC session zone, so read the legacy way.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.timestampType": "TIMESTAMP_LTZ",
    # PySpark 4 wraps every functions.* and DataFrame call to record its
    # Python call site for error query contexts, at 4 extra JVM round
    # trips per call. Errors stay typed; only the call-site line is lost.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


#: Python worker daemon of the local profile (see :mod:`rdsa_utils_spark.pyworker`).
_WORKER_DAEMON = "rdsa_utils_spark.pyworker"
#: The directory that holds the package, so a worker imports the daemon from any cwd.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_EXECUTOR_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _with_package_path(pythonpath: Optional[str]) -> str:
    """``pythonpath`` (a caller's worker path, may be empty) with the
    package's parent directory appended once."""
    paths = [p for p in (pythonpath or "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        paths.append(_PACKAGE_PARENT)
    return os.pathsep.join(paths)


_CGROUP_ROOT = "/sys/fs/cgroup"
_PROC_CGROUP = "/proc/self/cgroup"


def _cgroup_memory_limit() -> Optional[int]:
    """This process's cgroup memory limit in bytes, or ``None`` when it
    has none (``max``, the v1 unlimited sentinel) or none can be read.

    cgroup v2 reads ``memory.max``, v1 ``memory.limit_in_bytes`` under
    the memory controller's mount; the cgroup comes from
    ``/proc/self/cgroup``. The tightest limit from the cgroup up to the
    mount root counts (a container without a cgroup namespace sees its
    own limit at the mount root).
    """
    try:
        with open(_PROC_CGROUP) as fh:
            entries = [line.rstrip("\n").split(":", 2) for line in fh]
    except OSError:
        return None
    limits = []
    for entry in entries:
        if len(entry) != 3:
            continue
        hierarchy, controllers, rel = entry
        if hierarchy == "0" and not controllers:
            base, name = _CGROUP_ROOT, "memory.max"
        elif "memory" in controllers.split(","):
            base, name = os.path.join(_CGROUP_ROOT, "memory"), "memory.limit_in_bytes"
        else:
            continue
        d = os.path.normpath(os.path.join(base, rel.lstrip("/")))
        while True:
            try:
                with open(os.path.join(d, name)) as fh:
                    value = fh.read().strip()
            except OSError:
                value = ""
            # v1 reports "unlimited" as a page-rounded 2**63 - 1.
            if value.isdigit() and int(value) < 1 << 60:
                limits.append(int(value))
            if d == base or not d.startswith(base):
                break
            d = os.path.dirname(d)
    return min(limits) if limits else None


def _default_driver_memory() -> Optional[str]:
    """Local-profile heap: a quarter of the memory this process may use
    (physical RAM, or its cgroup limit when lower), capped at 8g."""
    try:
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError, AttributeError):
        return None
    limit = _cgroup_memory_limit()
    if limit is not None:
        mem = min(mem, limit)
    return f"{max(1, min(8, mem // (4 * 1024**3)))}g"


def create_spark_session(
    app_name: str = "rdsa_utils_spark",
    size: Optional[str] = None,
    extra_configs: Optional[Mapping[str, str]] = None,
    enable_hive: bool = False,
) -> SparkSession:
    """Create (or get) a SparkSession with sized defaults.

    Parameters
    ----------
    app_name
        Spark application name.
    size
        One of ``small | medium | large | extra-large | local`` or
        ``None``. ``local`` (and ``None`` when no master is configured
        in the environment) builds a ``local[*]`` session sized for a
        single machine: shuffle partitions = CPU count, driver heap
        from ``SPARK_LOCAL_DRIVER_MEM``, by default a quarter of the
        memory the process may use (physical RAM or its cgroup limit,
        whichever is lower) capped at 8g. Cluster presets mirror
        reference sizing.
    extra_configs
        Applied last — callers can override anything.
    enable_hive
        Add Hive catalog support (reference always enables it; we make
        it opt-in since local tests run on parquet files).

    Every profile turns off PySpark's DataFrame debugging
    (``spark.python.sql.dataFrameDebugging.enabled=false``), which
    records the Python call site of every ``functions.*`` and
    ``DataFrame`` call in extra JVM round trips. Errors keep their
    types (a missing column still raises ``AnalysisException``); only
    the Python call-site line in the error's query context is lost.
    PySpark reads the setting once per process, at the first wrapped
    call made while a session is active, so it takes effect only when
    it is set at build: pass ``"true"`` in ``extra_configs`` to keep
    call sites, and changing it on a running session does nothing.

    The ``local`` profile also starts Python workers from the package's
    own daemon (``spark.python.daemon.module`` =
    ``rdsa_utils_spark.pyworker``) and appends the package's parent
    directory to ``spark.executorEnv.PYTHONPATH`` (merged with a path
    the caller passes in ``extra_configs``), so a worker imports it
    from any working directory. Before every Python task PySpark calls
    ``importlib.invalidate_caches()``, and before CPython 3.13 (which
    made ``zipimporter.invalidate_caches`` lazy) that re-reads the
    whole directory of ``pyspark.zip`` once per importer: about 130 ms
    of CPU per task. The daemon re-reads a zip only when it changed.
    Cluster presets keep the stock daemon, since their executors may
    not have the package; so does any session this factory did not
    build. Override the conf in ``extra_configs`` to run another
    daemon.
    """
    builder = SparkSession.builder.appName(app_name)

    if size is not None and size not in SESSION_PRESETS and size != "local":
        raise ValueError(
            f"size must be one of {sorted(SESSION_PRESETS)} + ['local'], got {size!r}",
        )

    if size in SESSION_PRESETS:
        for key, value in SESSION_PRESETS[size].items():
            builder = builder.config(key, value)
        builder = builder.config("spark.dynamicAllocation.enabled", "true")
        builder = builder.config("spark.dynamicAllocation.shuffleTracking.enabled", "true")
    else:
        # Local profile: one JVM, threads = cores.
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
        builder = builder.master(f"local[{cpus}]")
        builder = builder.config("spark.sql.shuffle.partitions", cpus)
        builder = builder.config("spark.ui.enabled", "false")
        # Heap (guide §5): Spark's 1g default is sized for a thin
        # cluster driver, but a local[N] session IS the executor — N
        # concurrent task threads share the one heap, and a long
        # session additionally retains SQL/stage metadata for every
        # query it ran. At 1g the JVM is GC-bound (measured: the full
        # 250-query bench dropped 30% wall-clock, with per-stage
        # summed task time down up to 20x, when the heap was raised).
        # Default to a machine-derived size (_default_driver_memory),
        # overridable via SPARK_LOCAL_DRIVER_MEM.
        driver_mem = os.environ.get("SPARK_LOCAL_DRIVER_MEM") or _default_driver_memory()
        if driver_mem:
            builder = builder.config("spark.driver.memory", driver_mem)
        # Python workers fork from the package's daemon, which skips
        # pyspark.zip's per-task re-read; the caller's worker path is kept.
        builder = builder.config("spark.python.daemon.module", _WORKER_DAEMON)
        extra_configs = {
            **(extra_configs or {}),
            _EXECUTOR_PYTHONPATH: _with_package_path(
                (extra_configs or {}).get(_EXECUTOR_PYTHONPATH),
            ),
        }

    for key, value in _COMMON_CONFIGS.items():
        builder = builder.config(key, value)

    if enable_hive:
        builder = builder.enableHiveSupport()

    if extra_configs:
        for key, value in extra_configs.items():
            builder = builder.config(key, value)

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
