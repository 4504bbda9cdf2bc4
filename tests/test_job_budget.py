"""Job budget: the number of Spark jobs one crawl of the tiny world
issues, per mode. At sandbox scale a crawl's cost is its job count
(each job is a fixed driver round trip), so a change that adds jobs to
the plan phase or the batch loop shows up here before it shows up in
the benchmark.

Jobs are counted by id: the driver numbers every job it runs, from
any thread, consecutively, so the jobs between two sentinel jobs are
exactly the crawl's. The budgets are the largest count of nine
repeated crawls per mode of the code before the crawl loop became one
state machine: identical crawls differ by up to 2 jobs (most often a
session's first crawl issues the 2 extra), so a budget taken from
fewer runs would fail on timing alone."""

from __future__ import annotations

import uuid
from datetime import datetime

import pytest

from ftw_crawler_spark.plans.crawl import run_crawl

CRAWL_TIME = datetime(2026, 1, 15, 12, 0, 0)

JOB_BUDGET = {"default": 64, "follow_links": 86}


def _sentinel_job_ids(spark) -> list:
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job-budget sentinel")
    try:
        spark.range(1).collect()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return sc.statusTracker().getJobIdsForGroup(group)


def _crawl_jobs(spark, fn) -> int:
    before = _sentinel_job_ids(spark)
    fn()
    after = _sentinel_job_ids(spark)
    return min(after) - max(before) - 1


@pytest.mark.parametrize("mode", sorted(JOB_BUDGET))
def test_crawl_job_budget(spark, tiny_world, tmp_path, mode):
    kw = {"follow_links": True} if mode == "follow_links" else {}
    n = _crawl_jobs(spark, lambda: run_crawl(
        spark, tiny_world, str(tmp_path / "out"), crawl_time=CRAWL_TIME,
        batch_seconds=5.0, **kw))
    print(f"job budget {mode}: {n} jobs")
    assert 0 < n <= JOB_BUDGET[mode], (mode, n)
