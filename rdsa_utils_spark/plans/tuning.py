"""Physical tuning helpers.

Capability parity (public-API re-design):
- ``smart_coalesce`` — reference ``rdsa_utils/helpers/pyspark.py:1604-1695``
  (Catalyst ``sizeInBytes`` statistic → coalesce to ~target file size).
- ``cut_lineage`` — reference ``helpers/pyspark.py:540-592`` did a JVM
  RDD round-trip; ``localCheckpoint`` is the sanctioned equivalent
  (truncates the logical plan, keeps data on executors).
- ``pin`` — the engine's one way to materialize a subtree that several
  consumers share; the device is chosen from the session's master.
- ``cache_time_df`` — reference ``helpers/pyspark.py:1031-1051``.
- ``set_df_columns_nullable`` — reference ``helpers/pyspark.py:40-77``.
  The RDD rebuild is kept behind an explicit opt-in; the default is a
  cast-projection which preserves the plan (cannot force
  nullable=False, documented).
"""

from __future__ import annotations

import re
import time
from typing import Optional, Sequence, Tuple

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_TARGET_FILE_SIZE = 512 * 1024 * 1024  # 512 MB, matching reference


def plan_size_in_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size statistic for ``df`` (bytes)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def smart_coalesce(
    df: DataFrame,
    target_file_size: int = DEFAULT_TARGET_FILE_SIZE,
) -> DataFrame:
    """Coalesce so each output file is ~``target_file_size`` bytes.

    Uses the optimizer's size estimate (no job). ``coalesce`` avoids a
    shuffle; the documented caveat is that it narrows parallelism of
    the final stage, so call it immediately before a write, never
    mid-pipeline.
    """
    size = plan_size_in_bytes(df)
    n_files = max(1, size // target_file_size)
    return df.coalesce(int(n_files))


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate the logical plan (OOM / planner-blowup escape hatch)."""
    return df.localCheckpoint(eager=eager)


#: Masters whose executors live in the driver's JVM: ``local``,
#: ``local[N]``, ``local[*]`` and the retrying ``local[N,F]`` forms.
#: ``local-cluster[...]`` starts separate executor JVMs, so it is a
#: cluster here.
_SINGLE_JVM_MASTER = re.compile(r"local(\[(\d+|\*)(,\d+)?\])?")


def _single_jvm(master: str) -> bool:
    return _SINGLE_JVM_MASTER.fullmatch(master) is not None


def pin(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once for the several consumers that share it.

    The only place the engine picks a materialization device; operators
    call it as ``df.transform(pin)``. The device follows the session's
    master (a Python attribute, read without a JVM call):

    - single JVM (``local[...]``): ``localCheckpoint``, where an
      executor cannot be lost apart from the driver;
    - any other master: :func:`_pin_with_lineage`, whose blocks are
      recomputed from lineage when lost with their executor (a
      ``localCheckpoint`` block cannot be, and the query fails).

    Either way the pinned frame's plan is one scan over the pinned RDD,
    so a loop that pins every round keeps a plan of constant depth,
    nothing enters the session's cache, and the blocks are released by
    the ContextCleaner once no plan references the RDD.

    ``eager=True`` materializes now (one job) instead of at the first
    action. ``localCheckpoint`` is looked up on the instance at call
    time, so class-level patches (``plans.audit.capture_lineage_cuts``)
    see every local pin.
    """
    if _single_jvm(df.sparkSession.sparkContext.master):
        return df.localCheckpoint(eager=eager)
    return _pin_with_lineage(df, eager)


#: Lineage pins one chain may stack before the next pin truncates it.
#: Each chained pin lengthens the RDD lineage that every task ships: a
#: loop pinning every second round overflowed the executors' stack at
#: round 204 (~100 chained pins) on ``local-cluster[2,1,1024]``.
_MAX_CHAINED_PINS = 32

#: RDD name that carries a lineage pin's chain depth, e.g. ``pin 3``.
_PIN_NAME = "pin "


def _pin_with_lineage(df: DataFrame, eager: bool) -> DataFrame:
    """Pin ``df`` as a persisted JVM ``RDD[Row]`` wrapped in a new frame.

    ``persist`` keeps the RDD's lineage, so a lost block is recomputed.
    Unlike ``DataFrame.persist`` it registers nothing in the session's
    CacheManager: no later query with an equal plan reads it, and it is
    freed like a ``localCheckpoint`` block, when unreferenced. The rows
    stay in the JVM (no Python workers). The scan forgets the source's
    output partitioning, so a consumer that needs it shuffles again.

    The lineage, and the blocks and shuffle files it reaches, live as
    long as the pinned frame, which is what recomputing a lost block
    needs. A chain of pins (a loop) is cut after
    ``_MAX_CHAINED_PINS``: by a reliable ``checkpoint`` when the
    SparkContext has a checkpoint directory, which survives executor
    loss, else by a ``localCheckpoint``, which does not. Reliable
    checkpoint files stay in the directory unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` is set.
    """
    spark = df.sparkSession
    jdf = df._jdf.toDF()  # toDF: spark.range() is a Dataset[Long], not of Row
    depth = 1 + _chain_depth(jdf)
    if depth > _MAX_CHAINED_PINS:
        if spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)
    rows = jdf.rdd().setName(f"{_PIN_NAME}{depth}")  # the new frame's scan keeps the name
    rows.persist(spark.sparkContext._getJavaStorageLevel(StorageLevel.MEMORY_AND_DISK_DESER))
    if eager:
        rows.count()
    return DataFrame(spark._jsparkSession.createDataFrame(rows, jdf.schema()), spark)


def _chain_depth(jdf) -> int:
    """Longest chain of lineage pins under ``jdf``; 0 when it reads none."""
    leaves = jdf.queryExecution().analyzed().collectLeaves()
    depth = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRDD":
            name = leaf.rdd().name() or ""
            if name.startswith(_PIN_NAME):
                depth = max(depth, int(name[len(_PIN_NAME):]))
    return depth


def cache_time_df(df: DataFrame) -> Tuple[DataFrame, float, int]:
    """Cache + materialize; returns (df, seconds, row_count)."""
    start = time.perf_counter()
    df = df.cache()
    n = df.count()
    return df, time.perf_counter() - start, n


def set_df_columns_nullable(
    spark: SparkSession,
    df: DataFrame,
    column_list: Optional[Sequence[str]] = None,
    nullable: bool = True,
    use_rdd_rebuild: bool = False,
) -> DataFrame:
    """Flip ``StructField.nullable`` on the named columns.

    Default path: cast-projection (plan-preserving; can only relax to
    nullable=True). ``use_rdd_rebuild=True`` reproduces the
    reference's exact semantics (can force nullable=False) at the cost
    of an RDD round-trip — guard for small frames only.
    """
    cols = set(column_list) if column_list else set(df.columns)
    new_fields = [
        T.StructField(
            f.name,
            f.dataType,
            nullable if f.name in cols else f.nullable,
            f.metadata,
        )
        for f in df.schema.fields
    ]
    new_schema = T.StructType(new_fields)
    if use_rdd_rebuild:
        return spark.createDataFrame(df.rdd, new_schema)
    # Plan-preserving path: DataFrame.to(schema) (Spark ≥3.4) projects
    # onto the target schema without leaving Catalyst. It can relax
    # nullability (False→True) but refuses to fabricate non-nullability.
    return df.to(new_schema)


#: Source bytes of CPU-amplified work per task when deriving a
#: parallelism-floor target from data size (see ensure_parallelism).
#: Deliberately far below the 128 MB-1 GB guide range for plain scans:
#: ensure_parallelism is only applied where downstream per-row work
#: (shingle hashing, n-gram bucketing, vector math, resampling)
#: amplifies each input byte many times over.
DEFAULT_SPREAD_TASK_BYTES = 64 * 1024


def ensure_parallelism(
    df: DataFrame,
    keys: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Repartition up ONLY when the plan has fewer partitions than the
    DATA warrants — the small-file/local-file case where a downstream
    Arrow UDF or wide expression would otherwise run on one task. A
    no-op (no shuffle inserted) when the input is already parallel
    enough, so it is safe to leave in 100 TB paths where scans arrive
    with thousands of partitions.

    The target (round-13) is derived from the input SIZE, not from the
    core count alone: ``clamp(size_bytes / DEFAULT_SPREAD_TASK_BYTES,
    min(8, cores), cores)`` using Catalyst's optimized-plan size
    estimate (no job). Guide §2.2/§6: partitions should be sized by
    data; a core-count constant over-splits tiny inputs into per-task
    fixed costs (measured: a 0.6 MB corpus spread 32 ways paid ~0.1
    s/task of scheduler+GC overhead — 10-20x the useful work; 8-10
    tasks ran the same queries 1.4-1.7x faster end-to-end at the same
    core count, while an 11 MB fact table still fills every core). The
    floor of ``min(8, cores)`` reflects that callers only apply this
    device where per-byte work is heavy, so raw bytes UNDER-estimate
    the compute; the cap keeps the local exchange no wider than the
    session. When the size estimate is unavailable the target falls
    back to the core count.

    ``keys`` (round-12): hash-repartition on the named high-cardinality
    columns instead of round-robin. Hash partitioning is deterministic
    under task retry and skips round-robin's sort-before-repartition
    pass; picking a downstream join/window/group key lets the exchange
    double as that operator's required partitioning (no second
    shuffle)."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        est = plan_size_in_bytes(df)
    except Exception:  # py4j / unresolved-plan edge: fall back
        est = None
    if not est or est <= 0 or est >= (1 << 62):  # unknown estimate
        target = cores
    else:
        target = max(min(8, cores), min(cores, -(-est // DEFAULT_SPREAD_TASK_BYTES)))
    if df.rdd.getNumPartitions() < target:
        if keys:
            return df.repartition(target, *[F.col(k) for k in keys])
        return df.repartition(target)
    return df
