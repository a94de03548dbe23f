"""Does a registered query survive the loss of every executor, and are
its pins released?

Builds a ``local-cluster[2,1,1024]`` session (two executor JVMs of one
core and 1 GB each), collects the query, replaces every executor with
``killAndReplaceExecutor`` (which keeps the executor target, so the
job can proceed on the replacements), waits for the replacements to
register, and collects the SAME DataFrame again. Both results must be
equal and match the query's DuckDB oracle.

Pinned frames whose blocks lived only on the lost executors must be
recomputed from lineage; a ``localCheckpoint`` block cannot be, and
the second collect fails with ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``.

Then three micro-batches run through ``write_stream_quality_gate``,
whose ``foreachBatch`` body pins each batch eagerly. Pins must stay
out of the session's CacheManager (after the query and after the
stream), and once the stream's frames are unreferenced a JVM GC must
let the ContextCleaner drop every RDD the batches persisted.

Usage: python tools/executor_loss_probe.py [sf_dir] [query]
Exit status 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import gc
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

#: Seconds to wait for the replacement executors to register.
REPLACE_TIMEOUT_S = 120
#: Seconds to wait for the ContextCleaner to drop unreferenced pins.
RELEASE_TIMEOUT_S = 30


def _executor_ids(sc) -> set:
    ids = sc._jsc.sc().getExecutorIds().mkString(",")
    return set(ids.split(",")) if ids else set()


def _wait_for_two(sc, avoid: set) -> set:
    """Poll until two executors that are not in ``avoid`` are up."""
    deadline = time.monotonic() + REPLACE_TIMEOUT_S
    while time.monotonic() < deadline:
        ids = _executor_ids(sc)
        if len(ids) == 2 and not ids & avoid:
            return ids
        time.sleep(0.5)
    raise TimeoutError(f"executors not up after {REPLACE_TIMEOUT_S}s")


def _persisted_ids(sc) -> set:
    ids = sc._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return set(ids.split(",")) if ids else set()


def _released(sc, ids: set) -> bool:
    """GC until none of ``ids`` is persisted any more (or time runs out)."""
    deadline = time.monotonic() + RELEASE_TIMEOUT_S
    while time.monotonic() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        if not ids & _persisted_ids(sc):
            return True
        time.sleep(0.5)
    return False


def _stream_batches(spark, work: str) -> tuple[set, set]:
    """Admitted ids of three micro-batches through the quality gate,
    and of the batch operator on the same rows."""
    from rdsa_utils_spark.operators.classify import calibrated_gate, isotonic_calibrate
    from rdsa_utils_spark.streaming.quality import write_stream_quality_gate

    schema = "id long, score double"
    train = spark.createDataFrame(
        [(i / 10.0, float(j < i)) for i in range(10) for j in range(10)],
        "score double, y double",
    )
    cal = isotonic_calibrate(train, "score", "y", score_round=1)
    batches = [[(3 * b + i, (3 * b + i) / 10.0) for i in range(3)] for b in range(3)]
    src = os.path.join(work, "feed")
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = write_stream_quality_gate(
        stream, cal, "score", 0.5, os.path.join(work, "pass"),
        os.path.join(work, "ckpt"), score_round=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["id"] for r in spark.read.parquet(os.path.join(work, "pass")).collect()}
    union = spark.createDataFrame([r for rows in batches for r in rows], schema)
    want = {
        r["id"]
        for r in calibrated_gate(union, cal, "score", 0.5, score_round=1).collect()
        if r["passed"]
    }
    return got, want


def main(argv: list) -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from rdsa_utils_spark.session import create_spark_session
    from tools.check_oracle import _rows_key

    sf_dir = argv[0] if argv else entrymod.SF_DEFAULT
    name = argv[1] if len(argv) > 1 else "curation_e2e"
    fn = {**entrymod.queries(), **entrymod.extra_queries()}[name]
    sql = {**entrymod.oracle_sql(), **entrymod.extra_oracle_sql()}[name]

    spark = create_spark_session(
        "executor-loss-probe",
        extra_configs={
            "spark.master": "local-cluster[2,1,1024]",
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    sc = spark.sparkContext
    cache = spark._jsparkSession.sharedState().cacheManager()
    failures = []
    try:
        old = _wait_for_two(sc, set())
        df = fn(spark, sf_dir)
        first = _rows_key([tuple(r) for r in df.collect()], df.columns)
        for eid in sorted(old):
            sc._jsc.sc().killAndReplaceExecutor(eid)
        new = _wait_for_two(sc, old)
        print(f"executors {sorted(old)} replaced by {sorted(new)}")
        try:
            second = _rows_key([tuple(r) for r in df.collect()], df.columns)
        except Exception as e:  # noqa: BLE001 - the failure IS the result
            print(f"FAIL  {name}: second collect raised: {str(e)[:400]}")
            return 1
        if not cache.isEmpty():
            failures.append(f"{name}: the session's CacheManager holds entries after the query")

        before = _persisted_ids(sc)
        with tempfile.TemporaryDirectory() as work:
            got, want = _stream_batches(spark, work)
        if got != want:
            failures.append(f"stream gate admitted {sorted(got)}, the batch operator {sorted(want)}")
        if not cache.isEmpty():
            failures.append("the session's CacheManager holds entries after three micro-batches")
        held = _persisted_ids(sc) - before
        released = _released(sc, held)
        if not released:
            failures.append(f"RDDs {sorted(held & _persisted_ids(sc))} persisted by the stream were never released")
        print(f"stream: 3 micro-batches persisted {len(held)} RDDs, released: {released}")
    finally:
        spark.stop()

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    res = con.execute(sql)
    oracle = _rows_key(res.fetchall(), [d[0] for d in res.description])
    if first != second:
        failures.append(f"{name}: second collect differs from the first")
    if first != oracle:
        failures.append(f"{name}: result differs from the oracle")
    for f in failures:
        print(f"FAIL  {f}")
    if failures:
        return 1
    print(f"ok    {name}: {len(first)} rows, equal before and after executor loss")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
