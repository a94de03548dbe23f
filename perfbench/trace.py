"""Spans around the package's layer calls, and Spark status-store deltas.

Tracing lives entirely in the benchmark: :class:`Tracer` replaces the
public functions of the traced modules (and ``DataFrame`` pin methods)
with wrappers that record a span per call, then puts the originals
back. Spans are kept in memory and written out once, at exit.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from collections import defaultdict

#: Module whose public functions are wrapped -> span-name prefix.
TRACED_MODULES = {
    "rdsa_utils_spark.session": "session",
    "rdsa_utils_spark.sources.readers": "sources.readers",
    "rdsa_utils_spark.sources.writers": "sources.writers",
    "rdsa_utils_spark.sources.versioned": "sources.versioned",
    "rdsa_utils_spark.plans.tuning": "plans.tuning",
}
#: ``DataFrame`` methods that materialize a shared subtree ("pins").
PIN_METHODS = ("localCheckpoint", "persist", "checkpoint")


class Tracer:
    """Span recorder; ``install()``/``uninstall()`` toggle the wrappers."""

    def __init__(self, job_counter):
        # job_counter() -> number of Spark jobs submitted so far; lets each
        # span count the jobs launched inside it.
        self.job_counter = job_counter
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- patching ---------------------------------------------------------
    def install(self, dataframe_cls) -> None:
        originals = {}
        for modname, prefix in TRACED_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(fn)
                    and fn.__module__ == modname
                ):
                    originals[id(fn)] = (fn, self._wrap(f"{prefix}.{attr}", fn))
        # Rebind every module-level reference, so ``from x import f``
        # call sites are traced too.
        for mod in list(sys.modules.values()):
            namespace = getattr(mod, "__dict__", None)
            if not isinstance(namespace, dict):
                continue
            for attr, value in list(namespace.items()):
                hit = originals.get(id(value)) if inspect.isfunction(value) else None
                if hit is not None and hit[0] is value:
                    self._patch(mod, attr, hit[1])
        for meth in PIN_METHODS:
            self._patch(dataframe_cls, meth, self._wrap("plans.pin", getattr(dataframe_cls, meth)))

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # -- summaries --------------------------------------------------------
    def totals(self, roots: set[int]) -> dict[str, dict[str, float]]:
        """Per span name under the root spans ``roots``: calls, inclusive
        seconds, self seconds, and Spark jobs launched inside."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "s": 0.0, "self_s": 0.0, "jobs": 0},
        )

        def visit(s: dict) -> None:
            kids = children[s["id"]]
            dur = s["end"] - s["start"]
            rec = out[s["name"]]
            rec["calls"] += 1
            rec["s"] += dur
            rec["self_s"] += dur - _covered(s, kids)
            rec["jobs"] += s["jobs"]
            for k in kids:
                visit(k)

        for s in self.spans:
            if s["id"] in roots:
                visit(s)
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.t
        self.rec = {
            "id": len(t.spans),
            "parent": t._stack[-1] if t._stack else None,
            "name": self.name,
            **self.attrs,
        }
        t.spans.append(self.rec)
        t._stack.append(self.rec["id"])
        self.jobs0 = t.job_counter()
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        t = self.t
        self.rec["end"] = time.perf_counter()
        self.rec["jobs"] = t.job_counter() - self.jobs0
        t._stack.pop()
        return False


def _covered(span: dict, kids: list[dict]) -> float:
    """Length of the part of ``span`` covered by the union of ``kids``."""
    total, reach = 0.0, span["start"]
    for k in sorted(kids, key=lambda k: k["start"]):
        lo, hi = max(k["start"], reach), min(k["end"], span["end"])
        if hi > lo:
            total += hi - lo
            reach = hi
    return total


class StatusStore:
    """Per-operation deltas read from Spark's application status store.

    Each traced operation runs under its own job group; after it returns
    the listener bus is drained and the group's jobs and stages are read.
    ``DAGScheduler.nextJobId`` and ``LiveListenerBus.waitUntilEmpty`` are
    Spark-internal, reached through py4j (checked with Spark 4.1).
    """

    #: Fields summed per operation, with their units.
    FIELDS = {
        "jobs": "count", "stages": "count", "tasks": "count",
        "executor_run_s": "s", "executor_cpu_s": "s", "jvm_gc_s": "s",
        "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    }

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def jobs_submitted(self) -> int:
        return self._jsc.dagScheduler().nextJobId()

    def begin(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)

    def end(self, group: str) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        store = self._jsc.statusStore()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids = sorted({s for j in jobs for s in (tracker.getJobInfo(j).stageIds or [])})
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["jobs"] = len(jobs)
        mb = 1024.0 * 1024.0
        for sid in stage_ids:
            attempts = store.stageData(
                sid, False, self.sc._jvm.java.util.ArrayList(), False, self._no_quantiles,
            )
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if str(st.status()) == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["jvm_gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / mb
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / mb
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / mb
        return out


def eventlog_counts(log_file: str, groups: set[str]) -> tuple[dict[str, int], float]:
    """Jobs, stages and tasks of the job groups ``groups``, rebuilt from a
    Spark event log with the package's own parser.

    The task count comes from ``eventlog.parse_pyspark_logs`` fed with
    the groups' events; jobs and stages, which that parser does not
    count, are counted here. Returns the counts and the parse seconds.
    """
    from rdsa_utils_spark.eventlog import iter_events, parse_pyspark_logs

    events = list(iter_events(log_file))
    jobs, stages = set(), set()
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") in groups:
                jobs.add(ev["Job ID"])
                stages.update(ev.get("Stage IDs") or [])
    mine = [
        ev for ev in events
        if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") in stages
    ]
    t0 = time.perf_counter()
    summary = parse_pyspark_logs(mine)
    parse_s = time.perf_counter() - t0
    ran = {
        ev["Stage Info"]["Stage ID"] for ev in events
        if ev.get("Event") == "SparkListenerStageCompleted"
        and ev["Stage Info"]["Stage ID"] in stages
    }
    return {"jobs": len(jobs), "stages": len(ran), "tasks": summary["n_tasks"]}, parse_s
