"""Round-11 plan-audit machinery tests (VERDICT r10 tasks 1+2):

* the STRUCTURAL global-window check catches a deep-nested
  single-partition window that round 10's exact-indentation string
  proxy (``"Exchange SinglePartition\\n   +- Window"``) provably
  misses,
* ``capture_lineage_cuts`` sees the plan a ``localCheckpoint`` is
  about to hide (the curation_e2e blindness), records construction
  ``collect``/``count`` segments, flags RDD-backed ``createDataFrame``
  as unbacked, and restores every patched method on exit,
* ``audit_query`` on the real flagship composition reports ≥1 parquet
  scan — the round-10 audit recorded 0 for curation_e2e.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from rdsa_utils_spark.plans.audit import (
    analyze_frame,
    audit_query,
    capture_lineage_cuts,
    count_global_windows,
)

_OLD_TEXT_PROXY = "Exchange SinglePartition\n   +- Window"


def test_structural_check_catches_deep_nested_global_window(spark):
    """A global window buried under a join branch: the old textual
    proxy misses it (the operator pair never renders at that exact
    indentation), the structural walk counts it."""
    agg = (
        spark.range(100)
        .withColumn("g", F.col("id") % 5)
        .groupBy("g")
        .count()
    )
    ranked = agg.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("count").desc(), "g")),
    )
    deep = (
        spark.range(20)
        .withColumn("g", F.col("id") % 5)
        .join(F.broadcast(ranked), "g")
        .filter(F.col("rn") <= 3)
    )
    plan = deep._jdf.queryExecution().executedPlan().toString()
    assert _OLD_TEXT_PROXY not in plan, (
        "seed no longer demonstrates the proxy miss — rebuild the seed"
    )
    assert count_global_windows(deep) >= 1


def test_structural_check_clean_on_partitioned_window(spark):
    df = spark.range(100).withColumn("g", F.col("id") % 5)
    out = df.withColumn(
        "rs", F.sum("id").over(Window.partitionBy("g").orderBy("id")),
    )
    assert count_global_windows(out) == 0


def test_capture_sees_through_checkpoint(spark):
    """The round-10 blindness in miniature: a checkpointed global
    window vanishes from the final plan but lives in the segment."""
    with capture_lineage_cuts() as segments:
        hidden = (
            spark.range(50)
            .withColumn("rs", F.sum("id").over(Window.orderBy("id")))
            .localCheckpoint(eager=False)
        )
        final = analyze_frame(hidden.groupBy().sum("rs"))
    assert final["global_windows"] == 0
    assert "Scan ExistingRDD" in final["plan"]
    cut = [g for g in segments if g["kind"] == "checkpoint"]
    assert len(cut) == 1
    assert cut[0]["global_windows"] == 1


def test_capture_records_collect_and_count(spark):
    with capture_lineage_cuts() as segments:
        spark.range(10).selectExpr("sum(id) as s").collect()
        spark.range(10).count()
    kinds = [g["kind"] for g in segments]
    assert "collect" in kinds and "count" in kinds
    assert all(g.get("plan") for g in segments)


def test_capture_flags_rdd_backed_createDataFrame(spark):
    with capture_lineage_cuts() as segments:
        rdd = spark.sparkContext.parallelize([(1,), (2,)])
        spark.createDataFrame(rdd, "a long")
    assert any(g.get("unbacked") for g in segments)


def test_capture_marks_literal_frames(spark):
    with capture_lineage_cuts() as segments:
        spark.createDataFrame([(1, "a")], "id long, t string")
    lit = [g for g in segments if g["kind"] == "literal_createDataFrame"]
    assert len(lit) == 1 and lit[0]["rows"] == 1


def test_capture_restores_methods(spark):
    from pyspark.sql.classic.dataframe import DataFrame as CDF
    from pyspark.sql.session import SparkSession as CSS

    before = (
        CDF.localCheckpoint, CDF.collect, CDF.toPandas, CDF.count,
        CDF.isEmpty, CSS.createDataFrame,
    )
    with capture_lineage_cuts():
        assert CDF.collect is not before[1]
    after = (
        CDF.localCheckpoint, CDF.collect, CDF.toPandas, CDF.count,
        CDF.isEmpty, CSS.createDataFrame,
    )
    assert before == after


def test_audit_query_sees_curation_e2e_scans(spark):
    """The round-10 verdict's done-criterion: the flagship composition
    must report its real parquet scans instead of a bare RDD scan."""
    rec = audit_query(
        entrymod.queries()["curation_e2e"], spark, "/root/testdata/sf0.001",
    )
    seg_scans = sum(
        g["plan"].count("Scan parquet")
        for g in rec["segments"]
        if g.get("plan")
    )
    assert seg_scans + rec["final"]["plan"].count("Scan parquet") >= 1
    assert rec["segments"], "lineage cuts must be captured"
    assert not any(g.get("unbacked") for g in rec["segments"])
