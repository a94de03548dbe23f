"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. The full per-query map rides
on that line (driver contract — the driver re-runs the bench at lower
core counts and reads per-query seconds from it); BENCH_DETAIL.json
next to this file keeps the richer spread/warning/isolation metadata.

Each query is executed SPARK_GRAFT_BENCH_RUNS+1 times (default 3+1; the
first run is a discarded per-plan codegen warm-up, the median of the
rest is kept) with results fully materialized via a noop sink; nothing
is collected to the driver.

Isolation lane (round 12): ``python bench.py --isolate q1,q2`` runs
ONLY the named queries, each in a FRESH SparkSession (stop + recreate
between queries — fresh executor pool, caches, and shuffle state),
with N ≥ 5 kept runs per query. Results merge into BENCH_DETAIL.json
under ``"isolated"`` without touching the main lane's numbers — the
adjudication tool for per-query regressions that the ±25-50 % shared-
box swing makes undecidable from the main lane alone (BENCH_AB.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


_WINDOW_WARNING = b"No Partition Defined for Window operation"
_ORIG_STDERR_FD = None  # saved before the dup2 so failures can restore it
_JVM_LOG = None


def _redirect_stderr_to_log():
    """Route fd 2 to a file BEFORE the JVM launches: in local mode the
    JVM inherits Python's stderr, so log4j's console appender lands
    here and runtime WindowExec warnings become countable PER QUERY
    (the runtime complement of PLAN_AUDIT's structural
    ``global_windows``). stdout (the one-line JSON contract) is
    untouched. The original fd is SAVED (ADVICE r11): on any crash,
    __main__ restores it and re-emits the log tail so diagnostics are
    never silently buried in an unnamed tempfile."""
    global _ORIG_STDERR_FD, _JVM_LOG
    import tempfile

    _JVM_LOG = tempfile.NamedTemporaryFile(
        prefix="bench_jvm_stderr_", suffix=".log", delete=False,
    )
    _ORIG_STDERR_FD = os.dup(2)
    os.write(
        _ORIG_STDERR_FD,
        f"[bench] JVM/stderr log: {_JVM_LOG.name}\n".encode(),
    )
    os.dup2(_JVM_LOG.fileno(), 2)
    return _JVM_LOG


def _restore_stderr_and_dump_tail():
    """Undo the fd-2 redirect and replay the last chunk of the JVM log
    onto the real stderr — called from the crash path only."""
    if _ORIG_STDERR_FD is None:
        return
    os.dup2(_ORIG_STDERR_FD, 2)
    try:
        size = os.path.getsize(_JVM_LOG.name)
        with open(_JVM_LOG.name, "rb") as fh:
            fh.seek(max(0, size - 8192))
            tail = fh.read()
        os.write(2, b"\n[bench] tail of " + _JVM_LOG.name.encode() + b":\n")
        os.write(2, tail)
    except OSError:
        pass


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    jvm_log = _redirect_stderr_to_log()

    def _warnings_since(pos: int) -> tuple[int, int]:
        end = os.path.getsize(jvm_log.name)
        if end <= pos:
            return 0, end
        with open(jvm_log.name, "rb") as fh:
            fh.seek(pos)
            return fh.read(end - pos).count(_WINDOW_WARNING), end

    import __spark_entry__ as entrymod

    spark = warm_session("rdsa-utils-spark-bench", sf_dir)

    # Bench the full surface: the driver-declared registry (capped at
    # 50 so every entry gets a correctness verdict) PLUS the retired
    # extras — total timing stays comparable round over round.
    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    # median-of-N per query: run-to-run variance on a shared box is
    # ±20%+ (a same-code 148s→185s total swing was measured in round
    # 4); the median of 3 rejects a single interference spike in
    # either direction, making <5% per-query drift detectable between
    # same-code runs.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Spike-rejection policy knobs — recorded in BENCH_DETAIL metadata
    # so cross-round timing comparisons can tell which measurement
    # policy produced a number (the policy changed in round 9).
    spike_retry_max = 2
    spike_threshold = 1.9
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    spike_retries: dict[str, int] = {}
    window_warnings: dict[str, int] = {}
    log_pos = os.path.getsize(jvm_log.name)
    total = 0.0
    for name, fn in qs.items():
        runs = []
        # n_runs + 1 executions, first discarded: the first run of
        # each query pays that PLAN's one-off whole-stage-codegen
        # compilation (~0.3-1 s), which for sub-second queries showed
        # up as spread_max_over_min > 2 (round-8 flags: gopher_rules
        # 2.64, cosine_topk 2.25, kmv_overlap_types 2.14,
        # running_revenue 2.09) and blinded the per-query regression
        # signal exactly where it matters. Steady-state cost is what
        # the spread map is meant to police.
        for i in range(n_runs + 1):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            # Force full materialization of every column (count alone
            # can let Catalyst prune the plan).
            df.write.format("noop").mode("overwrite").save()
            if i > 0:
                runs.append(time.perf_counter() - t0)
        # Single-spike rejection: across ~750 timed runs a shared-box
        # interference burst hitting ONE run is near-certain, and one
        # 2x spike in a 3-run window blinds the spread signal for that
        # query. If the window is wide, buy up to two replacement runs
        # and drop the current maximum each time — bounded cost, and a
        # genuinely bimodal query still reports its spread because
        # every replacement run lands in the slow mode too.
        retries = 0
        while (
            len(runs) > 1
            and max(runs) / min(runs) >= spike_threshold
            and retries < spike_retry_max
        ):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.remove(max(runs))
            runs.append(time.perf_counter() - t0)
            retries += 1
        if retries:
            spike_retries[name] = retries
        runs.sort()
        median = runs[len(runs) // 2] if n_runs % 2 else (
            (runs[n_runs // 2 - 1] + runs[n_runs // 2]) / 2
        )
        timings[name] = round(median, 3)
        spreads[name] = round(runs[-1] / runs[0], 2) if runs[0] > 0 else 1.0
        total += timings[name]
        # Raw warning count across this query's n_runs+1 executions
        # (construction + compile + AQE replans can each log once per
        # run — a diagnostic, normalize by runs_per_query to compare).
        n_warn, log_pos = _warnings_since(log_pos)
        if n_warn:
            window_warnings[name] = n_warn

    # Derive sf from the directory name (e.g. sf0.1 -> 0.1).
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", ""))
    except ValueError:
        sf = None

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json",
    )
    # Carry the isolation lane's results across main-lane refreshes —
    # they are point-in-time adjudication records, not main-lane state.
    carried = {}
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as fh:
                prev = json.load(fh)
            carried = {
                k: prev[k]
                for k in ("isolated", "isolated_policy")
                if k in prev
            }
        except (ValueError, OSError):
            carried = {}
    with open(detail_path, "w") as fh:
        json.dump(
            {
                **carried,
                "metric": "total_query_time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "spread_max_over_min": spreads,
                "sf": sf,
                "n_queries": len(timings),
                "runs_per_query": n_runs,
                "warmup_runs_per_query": 1,
                "estimator": "median",
                "spike_retry_max": spike_retry_max,
                "spike_threshold": spike_threshold,
                "spike_retries": spike_retries,
                # runtime single-partition-window warnings per query
                # (raw count over runs_per_query+1 executions; pairs
                # with PLAN_AUDIT.json's structural global_windows)
                "global_window_warnings": window_warnings,
            },
            fh,
            indent=1,
        )
        fh.write("\n")

    # The stdout contract line carries the FULL per-query map (the
    # driver re-runs the bench at lower core counts and reads per-query
    # seconds from this line); BENCH_DETAIL.json keeps the richer
    # spread/warning metadata.
    print(
        json.dumps(
            {
                "metric": "total_query_time",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_queries": len(timings),
                "queries_detail": "BENCH_DETAIL.json",
            },
        ),
    )


def warm_session(app_name: str, sf_dir: str):
    """Build the local bench session on local[$SPARK_GRAFT_CPUS] and
    warm it, so the first timed query isn't billed for session
    startup: JVM init, the codegen compiler, Arrow and the Python-worker
    pool, the first array-returning Arrow UDF, the first
    localCheckpoint, and join/agg whole-stage codegen on ``sf_dir``'s
    two tiny dimension tables. Every lane and tool that times queries
    uses this one session recipe."""
    cpus = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))

    from pyspark.sql import functions as F

    from rdsa_utils_spark.session import create_spark_session

    spark = create_spark_session(
        app_name,
        size="local",
        extra_configs={"spark.ui.showConsoleProgress": "false"},
    )

    def _noop(df):
        df.write.format("noop").mode("overwrite").save()

    _noop(spark.range(1000).selectExpr("sum(id) as s"))
    _noop(spark.read.parquet(f"{sf_dir}/region.parquet"))
    # Spawn the Arrow python-worker pool (first pandas UDF otherwise
    # bills ~3s of fork+import to whichever query hits it first).
    # lambda form: `from __future__ import annotations` stringifies
    # type hints, which pandas_udf's hint inference can't resolve here
    _warm_udf = F.pandas_udf(lambda x: x, "long")
    _noop(spark.range(0, 64, 1, cpus).select(_warm_udf(F.col("id"))))
    # The FIRST Arrow UDF returning an array type pays a further one-off
    # ~3s (measured: 3.8s first pass vs 0.7s steady-state for the same
    # plan) — warm that path too, plus the first localCheckpoint, so
    # per-query timings reflect steady-state operator cost rather than
    # whichever query happens to initialize the machinery.
    _warm_arr = F.pandas_udf(lambda x: x.map(lambda v: [v]), "array<long>")
    _noop(spark.range(0, 64, 1, cpus).select(_warm_arr(F.col("id"))))
    _noop(spark.range(64).localCheckpoint(eager=True))
    # Warm whole-stage-codegen for the join/agg operator pair on the
    # two tiny dimension tables, so the first real query's timing is
    # operator cost, not one-off JIT compilation of HashAggregate /
    # BroadcastHashJoin (measured ~1-2s on the first join+agg plan).
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    _noop(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
          .groupBy("r_name").count())
    return spark


def _isolate(names: list[str]) -> None:
    """Fresh-session-per-query lane: stop/recreate the SparkSession
    around every named query so its timings carry no cross-query
    cache/JIT/shuffle state, and keep N ≥ 5 runs for a trustworthy
    median. Merges into BENCH_DETAIL.json under ``"isolated"``."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _redirect_stderr_to_log()

    import __spark_entry__ as entrymod

    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"--isolate: unknown queries {unknown}")
    n_runs = max(5, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))

    results: dict[str, dict] = {}
    for name in names:
        spark = warm_session("rdsa-utils-spark-bench-isolated", sf_dir)
        runs = []
        for i in range(n_runs + 1):
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            if i > 0:  # first run = per-plan codegen warmup, discarded
                runs.append(time.perf_counter() - t0)
        spark.stop()
        runs.sort()
        median = runs[len(runs) // 2] if n_runs % 2 else (
            (runs[n_runs // 2 - 1] + runs[n_runs // 2]) / 2
        )
        results[name] = {
            "median": round(median, 3),
            "min": round(runs[0], 3),
            "max": round(runs[-1], 3),
            "runs": n_runs,
            "fresh_session": True,
        }

    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json",
    )
    detail = {}
    if os.path.exists(detail_path):
        try:
            with open(detail_path) as fh:
                detail = json.load(fh)
        except (ValueError, OSError):
            detail = {}
    merged = detail.get("isolated", {})
    merged.update(results)
    detail["isolated"] = merged
    detail["isolated_policy"] = (
        f"fresh SparkSession per query, median of {n_runs} runs "
        "(1 discarded warmup), session-level warmup before timing"
    )
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
        fh.write("\n")
    print(json.dumps({"isolated": results}))


if __name__ == "__main__":
    try:
        if len(sys.argv) > 2 and sys.argv[1] == "--isolate":
            _isolate([n for n in sys.argv[2].split(",") if n])
        else:
            main()
    except BaseException:
        _restore_stderr_and_dump_tail()
        raise
