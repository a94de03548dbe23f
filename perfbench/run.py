"""Benchmark for rdsa_utils_spark: relational, curation and ingest workloads.

Run from the repository root:

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One process, one SparkSession on ``local[<cores>]``, one closed-loop
client: each operation starts when the previous one has returned. The
run reads the fixture tables under ``perfbench/data/``, computes the
expected results once (cached under ``.perfbench/``), starts the session,
warms it with untimed passes, then runs whole timed passes until
``--seconds`` have elapsed. Every output is checked after its timer
stops. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
See ``perfbench/README.md`` for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Fixture table set under ``perfbench/data/`` that the workloads read.
DATA_SET = "sf0.01"
#: Untimed passes before the timed window (see README, "Steady state").
WARMUP_PASSES = 2
#: Passes a run makes at least, so ``pass_s`` is never a single pass
#: (a ``curation`` pass outlasts the window on its own).
MIN_PASSES = 2

#: Span names reported per layer; each gets ``.calls``, ``.s``, ``.self_s``
#: (the query spans use the names ``query.construct_s``/``query.execute_s``).
LAYER_SPANS = (
    "sources.readers.read_parquet",
    "plans.tuning.ensure_parallelism",
    "plans.pin",
    "sources.writers.write_table",
    "sources.writers.merge_upsert",
    "sources.writers.compact_dataset",
    "sources.writers.save_single_file_csv",
    "sources.versioned.write_snapshot",
    "sources.versioned.snapshot_diff",
)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def process_age_s() -> float:
    """Seconds since this process was started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return time.time() - (btime + start_ticks / os.sysconf("SC_CLK_TCK"))


class TreeRss:
    """Samples the resident memory of this process and all descendants
    (the JVM and its Python workers) every 0.1 s; keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_bytes(self) -> int:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as fh:
                        todo.extend(int(c) for c in fh.read().split())
            except (FileNotFoundError, ProcessLookupError):
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            self.peak = max(self.peak, self._tree_bytes())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


def _nullspan(name):
    return contextlib.nullcontext()


def run_pass(ops, ctx, ops_log, status=None, tracer=None) -> float:
    """Run one pass; append a record per operation to ``ops_log``; return
    the pass's wall seconds. With ``status``/``tracer`` each operation runs
    under its own job group and root span."""
    t_pass = time.perf_counter()
    for op in ops:
        group = f"op{len(ops_log)}"
        if status:
            status.begin(group, op.name)
        root = tracer.span("op", op=op.name) if tracer else _nullspan("op")
        t0 = time.perf_counter()
        error = None
        with root as span:
            try:
                check = op.run(ctx)
            except Exception:  # a failing operation is counted, not fatal
                check, error = None, traceback.format_exc(limit=3)
        dt = time.perf_counter() - t0
        entry = {"name": op.name, "s": dt, "span": span["id"] if span else None}
        if status:
            entry["spark"] = status.end(group)
            entry["group"] = group
        if error is None:
            try:
                error = check()
            except Exception:  # a check that cannot run is a failed output
                error = traceback.format_exc(limit=3)
        if error:
            log(f"FAIL {op.name}: {error}")
        entry["failed"] = bool(error)
        ops_log.append(entry)
    return time.perf_counter() - t_pass


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF from its parent
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(tracer, status, traced_ops, n_passes, cores) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of the traced passes, each a total per pass."""
    totals = tracer.totals({op["span"] for op in traced_ops})
    empty = {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0}
    out: dict[str, tuple[float, str]] = {}
    for name in ("query.construct", "query.execute"):
        t = totals.get(name, empty)
        out[f"{name}_s"] = (t["s"] / n_passes, "s")
        out[f"{name}.self_s"] = (t["self_s"] / n_passes, "s")
    for name in LAYER_SPANS:
        t = totals.get(name, empty)
        out[f"{name}.calls"] = (t["calls"] / n_passes, "count")
        out[f"{name}.s"] = (t["s"] / n_passes, "s")
        out[f"{name}.self_s"] = (t["self_s"] / n_passes, "s")
    read = totals.get("sources.readers.read_parquet", empty)
    out["sources.readers.read_parquet.jobs"] = (read["jobs"] / n_passes, "count")
    for field, unit in status.FIELDS.items():
        out[f"spark.{field}"] = (sum(op["spark"][field] for op in traced_ops) / n_passes, unit)
    wall = sum(op["s"] for op in traced_ops)
    run_s = sum(op["spark"]["executor_run_s"] for op in traced_ops)
    out["spark.core_utilization"] = (run_s / (wall * cores), "ratio")
    return out


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("relational", "curation", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session_conf(scratch: str, trace: bool) -> dict[str, str]:
    """Session settings that keep every file the run writes under ``scratch``."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(scratch, "eventlog")
        # one plain JSON-lines file, which is what the package parser reads
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def main(argv=None, data_set: str = DATA_SET, warmup: int = WARMUP_PASSES) -> int:
    """Run one workload. ``data_set`` and ``warmup`` are fixed for the
    benchmark; the self-test passes smaller values."""
    args = parse_args(argv)
    t_start = time.perf_counter() - process_age_s()  # process start, perf_counter clock
    sys.path.insert(0, ROOT)
    try:
        import __spark_entry__  # noqa: F401
        import pyspark  # noqa: F401
        import rdsa_utils_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package under test from {ROOT}: {exc}")
        return 2

    from perfbench.trace import StatusStore, Tracer, eventlog_counts
    from perfbench.workloads import WORKLOADS, Context

    cache = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(cache, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(scratch, sub))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    try:
        # Input preparation is the benchmark's own work and is excluded from
        # setup_s; the oracles run only when their cached results are stale.
        t_prep = time.perf_counter()
        data_dir = os.path.join(HERE, "data", data_set)
        workload = WORKLOADS[args.workload]()
        workload.prepare(cache, data_dir, scratch)
        prep_s = time.perf_counter() - t_prep

        from rdsa_utils_spark.session import create_spark_session

        rng = random.Random(args.seed)
        ops_log: list[dict] = []
        passes: list[dict] = []

        def one_pass(kind: str, ctx, status=None, tracer=None) -> None:
            first = len(ops_log)
            wall = run_pass(workload.pass_ops(rng), ctx, ops_log, status, tracer)
            passes.append({"kind": kind, "s": wall, "ops": ops_log[first:]})

        with TreeRss() as rss:
            t0 = time.perf_counter()
            spark = create_spark_session(
                "perfbench", size="local", extra_configs=session_conf(scratch, args.trace),
            )
            session_create_s = time.perf_counter() - t0
            ctx = Context(spark, data_dir, _nullspan)
            try:
                for _ in range(warmup):
                    one_pass("warmup", ctx)
                setup_s = time.perf_counter() - t_start - prep_s
                if args.trace:
                    status = StatusStore(spark)
                    tracer = Tracer(status.jobs_submitted)
                    df_cls = type(spark.range(1))
                t_window = time.perf_counter()
                n = 0
                # Whole passes until the window is spent; a traced run
                # alternates untraced and traced passes, so it has one of each.
                while time.perf_counter() - t_window < args.seconds or n < MIN_PASSES:
                    if args.trace and n % 2 == 1:
                        tracer.install(df_cls)
                        ctx.span = tracer.span
                        try:
                            one_pass("traced", ctx, status, tracer)
                        finally:
                            tracer.uninstall()
                            ctx.span = _nullspan
                    else:
                        one_pass("timed", ctx)
                    n += 1
            finally:
                stop_spark(spark)
        log("passes: " + ", ".join(f"{p['kind']} {p['s']:.2f}s" for p in passes))

        attempted = len(ops_log)
        failed = sum(op["failed"] for op in ops_log)
        timed = [p for p in passes if p["kind"] == "timed"]
        if not args.trace:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (statistics.median(p["s"] for p in timed), "s"),
                "op_p50_s": (statistics.median(op["s"] for p in timed for op in p["ops"]), "s"),
            }
        else:
            traced = [p for p in passes if p["kind"] == "traced"]
            traced_ops = [op for p in traced for op in p["ops"]]
            metrics = layer_metrics(tracer, status, traced_ops, len(traced), cores)
            metrics["session.create_s"] = (session_create_s, "s")
            metrics["peak_rss_mb"] = (rss.peak / (1024 * 1024), "MB")
            metrics["sources.writers.bytes_written"] = (
                workload.bytes_written / len(passes), "bytes",
            )
            metrics["bytes_written_per_input_byte"] = (
                workload.bytes_written / workload.bytes_in if workload.bytes_in else 0.0,
                "ratio",
            )
            metrics["error_rate"] = (failed / attempted, "ratio")
            metrics["trace.overhead_s"] = (
                statistics.median(p["s"] for p in traced)
                - statistics.median(p["s"] for p in timed), "s",
            )
            log_dir = os.path.join(scratch, "eventlog")
            counts, parse_s = eventlog_counts(
                os.path.join(log_dir, os.listdir(log_dir)[0]),
                {op["group"] for op in traced_ops},
            )
            metrics["eventlog.parse_s"] = (parse_s, "s")
            for f in ("jobs", "stages", "tasks"):
                store = sum(op["spark"][f] for op in traced_ops)
                metrics[f"eventlog.{f}_mismatch"] = (abs(counts[f] - store), "count")
                if counts[f] != store:
                    log(f"event log {f} {counts[f]} != status store {store}")
            os.makedirs(os.path.join(cache, "traces"), exist_ok=True)
            tracer.dump(os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
