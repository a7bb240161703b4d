"""The width of the engine's batch grouped-Python stage, and the
session's plan-construction conf.

AQE coalesces a shuffle by bytes (a 1 MB floor per partition), so the
small shuffle that feeds ``grouped_median_applyinpandas`` would be
folded into ONE Python task although the stage's cost is per group.
The builder pins the exchange with ``repartition(defaultParallelism,
"user_id")``; these tests pin that the grouped stage really runs one
task per core and that the plan still holds exactly one exchange.
"""

from __future__ import annotations

import uuid

from bigquery_cross_environment_etl_pipeline_spark.plans.extended import (
    grouped_median_applyinpandas,
)

from .conftest import SF_SMOKE


def test_grouped_median_runs_one_python_task_per_core(spark):
    sc = spark.sparkContext
    df = grouped_median_applyinpandas(spark, SF_SMOKE)
    group = f"stage-width-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    # the plan's one exchange feeds the grouped map, so the stage that
    # reads shuffle records is the one holding FlatMapGroupsInPandas
    reducers = []
    for job in sc.statusTracker().getJobIdsForGroup(group):
        for sid in sc.statusTracker().getJobInfo(job).stageIds:
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "COMPLETE" and stage.shuffleReadRecords() > 0:
                reducers.append(stage.numTasks())
    assert reducers == [sc.defaultParallelism]

    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = [line for line in plan.splitlines() if "Exchange " in line]
    assert len(exchanges) == 1, plan
    assert "REPARTITION_BY_NUM" in exchanges[0], plan


def test_engine_session_builds_plans_without_origin_capture(spark):
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
