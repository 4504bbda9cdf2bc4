"""Event-log aggregation over a small recorded log (three jobs of a
pandas-UDF query on local[2]; one job stripped of its call site)."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import aggregate, read_log  # noqa: E402

LOG = read_log(os.path.join(HERE, "data", "eventlog_small.jsonl"))


def test_whole_log():
    out = aggregate(LOG, [(0, float("inf"))])
    assert out["spark.jobs"] == 3
    assert out["spark.jobs_unattributed"] == 1
    assert out["callsites"] == {"collect at example.py:10": 2}
    assert out["spark.tasks"] == 5
    assert out["spark.executor_run_s"] == pytest.approx(4.428)
    assert out["spark.executor_cpu_s"] == pytest.approx(0.795732948)
    assert out["spark.gc_s"] == pytest.approx(0.070)
    assert out["spark.shuffle_write_bytes"] == 26698
    assert out["spark.shuffle_read_bytes"] == 26698
    assert out["spark.spill_bytes"] == 0
    assert out["udf.bytes_to_python"] == 40928
    assert out["udf.bytes_from_python"] == 40288
    assert out["udf.run_s"] == pytest.approx(3.323)
    assert out["udf.init_s"] == pytest.approx(1.340)


def test_window_keeps_jobs_submitted_inside_it():
    out = aggregate(LOG, [(1792253470000, 1792253472000)])
    assert out["spark.jobs"] == 2
    assert out["spark.jobs_unattributed"] == 0
    assert out["spark.tasks"] == 4
    assert out["spark.executor_run_s"] == pytest.approx(4.388)
    out = aggregate(LOG, [(0, 1)])
    assert out["spark.jobs"] == 0 and out["spark.tasks"] == 0
