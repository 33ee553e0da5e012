from __future__ import annotations

import pytest

from us_accidents_bigdata_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark


def finished_jobs(spark, after_job_id: int = -1) -> list:
    """Status-store ``JobData`` of every job with an id above
    ``after_job_id``, once the listener bus has delivered all events
    so far (the store is filled asynchronously)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(spark.sparkContext._jvm.java.util.ArrayList())
    found = (jobs.apply(i) for i in range(jobs.size()))
    return [j for j in found if j.jobId() > after_job_id]


def last_job_id(spark) -> int:
    return max((j.jobId() for j in finished_jobs(spark)), default=-1)


def stage_pools(spark, jobs) -> dict[int, str]:
    """stage id -> FAIR scheduler pool, for the stages of ``jobs`` that
    ran (a skipped stage is never submitted, so it has no pool)."""
    sc = spark.sparkContext
    wanted = {
        int(s)
        for j in jobs
        for s in j.stageIds().mkString(",").split(",")
        if s
    }
    stages = sc._jsc.sc().statusStore().stageList(
        sc._jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(sc._jvm.double, 0), sc._jvm.java.util.ArrayList(),
    )
    found = (stages.apply(i) for i in range(stages.size()))
    return {
        s.stageId(): s.schedulingPool()
        for s in found
        if s.stageId() in wanted and s.status().toString() != "SKIPPED"
    }
