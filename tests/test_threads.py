"""run_concurrently: results in order, first error in order, and the
caller's Spark job group on every thread's jobs."""

from __future__ import annotations

import pytest

from wc_vector_indexing_spark.functions.threads import run_concurrently


def test_jobs_on_helper_threads_carry_the_callers_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("run-concurrently-group", "jobs from helper threads")
    try:
        out = run_concurrently(spark, lambda: spark.range(10).count(), lambda: spark.range(5).count())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out == [10, 5]
    # the main thread ran no job: every job in the group came from a helper
    assert len(sc.statusTracker().getJobIdsForGroup("run-concurrently-group")) >= 2


def test_first_error_in_argument_order_is_raised_after_all_finish(spark):
    ran = []

    def fails(exc):
        def f():
            ran.append(exc.__name__)
            raise exc("boom")

        return f

    with pytest.raises(KeyError):
        run_concurrently(spark, fails(KeyError), fails(ValueError), lambda: ran.append("ok"))
    assert sorted(ran) == ["KeyError", "ValueError", "ok"]
    assert run_concurrently(spark) == []
