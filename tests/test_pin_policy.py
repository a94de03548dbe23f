"""``plans.tuning.pin``: the one materialization device.

* the master decides the device (single JVM → ``localCheckpoint``,
  anything else → a persisted RDD with its lineage kept);
* the lineage device keeps the plan one scan deep, stays out of the
  session's cache, recomputes lost blocks, and cuts a chain of pins at
  its bound;
* no module outside ``plans/tuning.py`` picks a device itself;
* a query whose pins lived on lost executors still answers correctly
  and releases its pins (``local-cluster`` subprocess, slow lane).
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from rdsa_utils_spark.plans import tuning
from rdsa_utils_spark.plans.audit import capture_lineage_cuts
from rdsa_utils_spark.plans.tuning import _chain_depth, _pin_with_lineage, _single_jvm, pin
from tests.conftest import jobs_in

ROOT = Path(__file__).resolve().parent.parent

SINGLE_JVM = ["local", "local[4]", "local[*]", "local[4,2]", "local[*,3]"]
CLUSTER = ["local-cluster[2,1,1024]", "yarn", "spark://h:7077", "k8s://https://h:443"]


@pytest.mark.parametrize("master", SINGLE_JVM)
def test_single_jvm_masters(master):
    assert _single_jvm(master)


@pytest.mark.parametrize("master", CLUSTER)
def test_cluster_masters(master):
    assert not _single_jvm(master)


class _Frame:
    """Just enough DataFrame for ``pin`` to pick and apply a device."""

    def __init__(self, master):
        self.sparkSession = SimpleNamespace(sparkContext=SimpleNamespace(master=master))
        self.calls = []

    def localCheckpoint(self, eager):
        self.calls.append(("localCheckpoint", eager))
        return self


@pytest.mark.parametrize("eager", [False, True])
@pytest.mark.parametrize("master", SINGLE_JVM[:2] + CLUSTER[:2])
def test_device_follows_master(master, eager, monkeypatch):
    df = _Frame(master)

    def lineage(frame, eager):
        frame.calls.append(("lineage", eager))
        return frame

    monkeypatch.setattr(tuning, "_pin_with_lineage", lineage)
    assert pin(df, eager=eager) is df
    kind = "localCheckpoint" if _single_jvm(master) else "lineage"
    assert df.calls == [(kind, eager)]


def test_local_pin_is_a_lazy_local_checkpoint(spark):
    # No exchange in the source: under AQE a lazy localCheckpoint still
    # runs a shuffle's map stages when it is called.
    src = spark.range(40).selectExpr("id % 5 AS k", "id * 2 AS v")
    pinned, jobs = jobs_in(spark, lambda: src.transform(pin))
    assert jobs == 0
    assert sorted(pinned.collect()) == sorted(src.collect())
    leaves = pinned._jdf.queryExecution().executedPlan().collectLeaves()
    assert leaves.size() == 1
    assert leaves.apply(0).nodeName() == "Scan ExistingRDD"


def test_audit_hook_sees_every_pin(spark):
    df = spark.range(10)
    with capture_lineage_cuts() as segments:
        df.transform(pin)
        df.transform(pin, eager=True)
    assert [s["kind"] for s in segments] == ["checkpoint", "checkpoint"]


# -- the cluster device, run on the suite's local session -----------------


def _persisted(spark) -> set:
    ids = spark.sparkContext._jsc.sc().getPersistentRDDs().keys().mkString(",")
    return set(ids.split(",")) if ids else set()


def _equal_query_reads_a_cache(spark) -> bool:
    fresh = spark.range(40).selectExpr("id % 5 AS k", "CAST(id AS DECIMAL(10, 2)) AS v")
    return "InMemoryRelation" in fresh._jdf.queryExecution().optimizedPlan().toString()


def test_lineage_pin_is_a_scan_outside_the_cache(spark):
    src = spark.range(40).selectExpr("id % 5 AS k", "CAST(id AS DECIMAL(10, 2)) AS v")
    before = _persisted(spark)
    pinned, jobs = jobs_in(spark, lambda: _pin_with_lineage(src, eager=False))
    assert jobs == 0
    _, jobs = jobs_in(spark, lambda: _pin_with_lineage(src, eager=True))
    assert jobs == 1
    assert pinned.schema == src.schema
    assert sorted(pinned.collect()) == sorted(src.collect())
    leaves = pinned._jdf.queryExecution().executedPlan().collectLeaves()
    assert [leaves.apply(i).nodeName() for i in range(leaves.size())] == ["Scan ExistingRDD pin 1"]
    # DataFrame.persist would make an equal query read the cached copy
    assert not _equal_query_reads_a_cache(spark)
    assert len(_persisted(spark) - before) == 2


def test_lineage_pin_recomputes_dropped_blocks(spark):
    """What an executor loss does to a pin's blocks, in one JVM: drop
    them. A lineage pin recomputes them; a localCheckpoint cannot."""
    src = spark.range(200).selectExpr("id % 7 AS k").groupBy("k").count()
    want = sorted(src.collect())
    block_master = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().blockManager().master()

    def drop_new_blocks(make):
        before = _persisted(spark)
        pinned = make()
        pinned.collect()
        for rdd_id in _persisted(spark) - before:
            block_master.removeRdd(int(rdd_id), True)
        return pinned

    pinned = drop_new_blocks(lambda: _pin_with_lineage(src, eager=False))
    assert sorted(pinned.collect()) == want
    checkpointed = drop_new_blocks(lambda: src.localCheckpoint(eager=False))
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        checkpointed.collect()


def test_chain_of_lineage_pins_is_cut_at_its_bound(spark, monkeypatch):
    monkeypatch.setattr(tuning, "_MAX_CHAINED_PINS", 3)
    df = spark.range(30).selectExpr("id AS v")
    depths = []
    for _ in range(5):
        df = _pin_with_lineage(df.selectExpr("v + 1 AS v"), eager=False)
        depths.append(_chain_depth(df._jdf))
    # the fourth pin is a localCheckpoint (no checkpoint directory set)
    assert depths == [1, 2, 3, 0, 1]
    assert sorted(r.v for r in df.collect()) == list(range(5, 35))


def test_chain_cut_is_reliable_with_a_checkpoint_dir(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(tuning, "_MAX_CHAINED_PINS", 1)
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path))
    try:
        df = _pin_with_lineage(spark.range(10), eager=False)
        cut = _pin_with_lineage(df.selectExpr("id * 2 AS id"), eager=True)
        assert _chain_depth(cut._jdf) == 0
        assert sorted(r.id for r in cut.collect()) == list(range(0, 20, 2))
        assert any(p.name.startswith("rdd-") for p in tmp_path.rglob("*"))
    finally:
        # SparkContext has no public way to unset the directory
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())


# -- no device outside plans/tuning.py ------------------------------------

_DEVICES = {"localCheckpoint", "checkpoint"}


def _device_calls(path: Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _DEVICES
    ]


def test_only_tuning_picks_a_device():
    allowed = ROOT / "rdsa_utils_spark" / "plans" / "tuning.py"
    files = sorted((ROOT / "rdsa_utils_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    offenders = {
        str(f.relative_to(ROOT)): lines
        for f in files
        if f != allowed and (lines := _device_calls(f))
    }
    assert offenders == {}, "materialize shared subtrees with plans.tuning.pin"
    assert _device_calls(allowed)


def test_guard_ignores_docstrings_and_comments(tmp_path):
    f = tmp_path / "m.py"
    f.write_text(
        'def g(df):\n'
        '    """Calls ``df.localCheckpoint(eager=False)`` in prose."""\n'
        '    # df.checkpoint() here is a comment\n'
        '    return df.transform(pin)\n'
        'def h(df):\n'
        '    return df.localCheckpoint(eager=True)\n',
    )
    assert _device_calls(f) == [6]


# -- every join hint states why the planner needs it -------------------------

_REASON = "# broadcast:"


def _unexplained_hints(path: Path) -> list[int]:
    """Lines of ``F.broadcast(...)`` calls with no ``# broadcast:``
    comment on the call's line or the line before it."""
    src = path.read_text()
    lines = src.splitlines()
    return [
        node.lineno
        for node in ast.walk(ast.parse(src, filename=str(path)))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "broadcast"
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "F"
        and not any(_REASON in line for line in lines[max(node.lineno - 2, 0):node.lineno])
    ]


def test_every_broadcast_hint_has_a_reason():
    files = sorted((ROOT / "rdsa_utils_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    offenders = {
        str(f.relative_to(ROOT)): lines for f in files if (lines := _unexplained_hints(f))
    }
    assert offenders == {}, (
        "the session's size threshold and AQE choose join strategies; "
        "hint only what the planner cannot see, and say why in a '# broadcast:' comment"
    )


def test_hint_guard_ignores_docstrings_and_comments(tmp_path):
    f = tmp_path / "m.py"
    f.write_text(
        'def g(a, b):\n'
        '    """Joins ``F.broadcast(b)`` in prose."""\n'
        '    # F.broadcast(b) here is a comment\n'
        '    # broadcast: the reason sits on the line before\n'
        '    x = a.join(F.broadcast(b), "k")\n'
        '    y = a.join(F.broadcast(b), "k")  # broadcast: same line\n'
        '    sc.broadcast(b)\n'
        '    return x.join(F.broadcast(y), "k")\n',
    )
    assert _unexplained_hints(f) == [8]


# -- executor loss ----------------------------------------------------------


def test_query_survives_executor_loss(sf_dir):
    """Collect a pinned query on ``local-cluster``, replace both
    executors, collect again: the answer is unchanged and matches the
    oracle; neither the query nor three micro-batches leave entries in
    the session's cache, and the batches' pins are released
    (tools/executor_loss_probe.py)."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "executor_loss_probe.py"), sf_dir, "curation_e2e"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "ok    curation_e2e" in proc.stdout
