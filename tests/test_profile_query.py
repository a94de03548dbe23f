"""tools/profile_query.py counts a query's jobs, stages and tasks from
its own job groups, not from differences of the status store's totals,
which go negative once the store drops old stages."""

from __future__ import annotations

import uuid

from tools.profile_query import _group_totals, _job_group


def test_group_totals_count_only_the_groups_jobs(spark):
    a, b = f"pq-{uuid.uuid4().hex}", f"pq-{uuid.uuid4().hex}"
    with _job_group(spark, a):
        spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect()
    with _job_group(spark, b):
        spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
        spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
    jobs_a, stages_a, tasks_a, _ = _group_totals(spark, a)
    jobs_b, stages_b, tasks_b, _ = _group_totals(spark, b)
    assert jobs_a >= 1 and jobs_b >= 2 and jobs_b >= jobs_a
    assert stages_a >= 1 and tasks_a >= 3
    assert stages_b >= 2 and tasks_b >= 4
    assert _group_totals(spark, a, b)[:3] == (
        jobs_a + jobs_b, stages_a + stages_b, tasks_a + tasks_b,
    )
    # jobs outside every named group are not counted
    spark.range(0, 1000, 1, 3).selectExpr("sum(id)").collect()
    assert _group_totals(spark, a)[:3] == (jobs_a, stages_a, tasks_a)
    assert _group_totals(spark, f"pq-{uuid.uuid4().hex}") == (0, 0, 0, 0)
    # the job group is cleared after the block
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
