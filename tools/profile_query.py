"""Per-query profiler for the optimization rounds (guide §1).

For each named query (default: the N slowest from BENCH_DETAIL.json):

* times CONSTRUCTION (the ``fn(spark, sf_dir)`` call — driver-side plan
  building plus any eager actions like localCheckpoint/collect) and the
  noop WRITE separately, over N runs after a discarded warmup;
* counts Spark JOBS, STAGES and TASKS the query triggers per run and
  sums executor task runtime (from the JVM AppStatusStore), so
  scheduling overhead vs compute is visible without the UI. Each run's
  construction and write run under their own job groups, and the
  counts are sums over those groups' jobs, so they stay right after the
  store drops old jobs and stages (``spark.ui.retainedStages``);
* for construction alone, counts the jobs it launches and the py4j
  round trips it makes (and the seconds spent in them), the floor a
  query pays before it runs;
* optionally dumps ``.explain("formatted")`` to plans/r12/<q>_<tag>.txt.

Usage:
  python tools/profile_query.py q1,q2 [--runs 3] [--plans TAG]
  python tools/profile_query.py --top 15
"""

from __future__ import annotations

import contextlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@contextlib.contextmanager
def _job_group(spark, group: str):
    """Run the block's Spark jobs under their own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _group_totals(spark, *groups: str):
    """(n_jobs, n_stages, n_tasks, task_time_ms) summed over the jobs of
    ``groups`` and their stages, read from the AppStatusStore once the
    listener bus is drained (as ``perfbench/trace.py`` does). Skipped
    stages count neither stages nor tasks."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    store = jsc.statusStore()
    gw = sc._gateway
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        stage_ids.update((info.stageIds or []) if info else [])
    n_stages = n_tasks = task_ms = 0
    for sid in sorted(stage_ids):
        attempts = store.stageData(sid, False, sc._jvm.java.util.ArrayList(), False, no_quantiles)
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if str(st.status()) == "SKIPPED":
                continue
            n_stages += 1
            n_tasks += st.numCompleteTasks() + st.numFailedTasks()
            task_ms += st.executorRunTime()
    return len(jobs), n_stages, n_tasks, task_ms


@contextlib.contextmanager
def _py4j_trips():
    """Count the py4j round trips made inside the block, and the
    seconds spent in them, by wrapping ``send_command`` on both py4j
    connection classes (pinned-thread and classic gateway modes)."""
    from py4j.clientserver import ClientServerConnection
    from py4j.java_gateway import GatewayConnection

    stats = {"trips": 0, "s": 0.0}

    def counted(real):
        def send_command(self, command):
            t0 = time.perf_counter()
            try:
                return real(self, command)
            finally:
                stats["trips"] += 1
                stats["s"] += time.perf_counter() - t0

        return send_command

    classes = (ClientServerConnection, GatewayConnection)
    reals = [cls.send_command for cls in classes]
    for cls, real in zip(classes, reals):
        cls.send_command = counted(real)
    try:
        yield stats
    finally:
        for cls, real in zip(classes, reals):
            cls.send_command = real


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    args = sys.argv[1:]
    runs = 3
    plans_tag = None
    names: list[str] = []
    top = 0
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--runs":
            runs = int(args[i + 1]); i += 2
        elif a == "--plans":
            plans_tag = args[i + 1]; i += 2
        elif a == "--top":
            top = int(args[i + 1]); i += 2
        else:
            names.extend(n for n in a.split(",") if n)
            i += 1

    import __spark_entry__ as entrymod
    from bench import warm_session

    qs = {**entrymod.queries(), **entrymod.extra_queries()}
    if top:
        detail = json.load(open(os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "BENCH_DETAIL.json")))
        names = [k for k, _ in sorted(
            detail["queries"].items(), key=lambda kv: -kv[1])[:top]]
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = warm_session("profile-query", sf_dir)

    out = {}
    for name in names:
        fn = qs[name]
        # warmup run (per-plan codegen)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cons, writes, jobs, stages, tasks, task_ms = [], [], [], [], [], []
        for run in range(runs):
            built, ran = f"profile:{name}:{run}:construct", f"profile:{name}:{run}:write"
            with _job_group(spark, built), _py4j_trips() as trips:
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                t1 = time.perf_counter()
            with _job_group(spark, ran):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            construct_jobs = _group_totals(spark, built)[0]
            n_jobs, n_stages, n_tasks, n_ms = _group_totals(spark, built, ran)
            cons.append(t1 - t0)
            writes.append(t2 - t1)
            jobs.append(n_jobs)
            stages.append(n_stages)
            tasks.append(n_tasks)
            task_ms.append(n_ms)
        if plans_tag:
            pdir = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "plans",
                os.environ.get("SPARK_GRAFT_PLANS_DIR", "r13"),
            )
            os.makedirs(pdir, exist_ok=True)
            df = fn(spark, sf_dir)
            with open(os.path.join(pdir, f"{name}_{plans_tag}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        cons.sort(); writes.sort()
        rec = {
            "construct_s": round(cons[len(cons) // 2], 3),
            "construct_jobs": construct_jobs,
            "construct_py4j_trips": trips["trips"],
            "construct_py4j_s": round(trips["s"], 3),
            "write_s": round(writes[len(writes) // 2], 3),
            "total_s": round(cons[len(cons) // 2] + writes[len(writes) // 2], 3),
            "jobs": jobs[-1],
            "stages": stages[-1],
            "tasks": tasks[-1],
            "task_time_s": round(task_ms[-1] / 1000.0, 2),
        }
        out[name] = rec
        print(json.dumps({name: rec}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
