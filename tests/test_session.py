"""session.warm_session: the shared warm-up's job budget, job-group
inheritance and per-stage error contract."""

from __future__ import annotations

import os
from contextlib import contextmanager

import pytest
from pyspark.errors import AnalysisException

from eprints_to_hyku_data_tool_spark.session import warm_session
from eprints_to_hyku_data_tool_spark.sources.tables import TABLES


@contextmanager
def _job_group(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, "warm_session test")
    try:
        yield sc.statusTracker()
    finally:
        # setJobGroup sets these three local properties; None removes them.
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)


def _stages(tracker, group):
    """StageInfo of every stage of every job in ``group``."""
    infos = []
    for job in tracker.getJobIdsForGroup(group):
        for sid in tracker.getJobInfo(job).stageIds:
            info = tracker.getStageInfo(sid)
            assert info is not None
            infos.append(info)
    return infos


def test_warm_session_job_budget(spark, sf_dir):
    n = spark.sparkContext.defaultParallelism
    with _job_group(spark, "test_warm_session_job_budget") as tracker:
        ungrouped = set(tracker.getJobIdsForGroup(None))
        warm_session(spark, sf_dir)
        jobs = tracker.getJobIdsForGroup("test_warm_session_job_budget")
        stray = set(tracker.getJobIdsForGroup(None)) - ungrouped
        stages = _stages(tracker, "test_warm_session_job_budget")
    # One schema read and one noop scan per table, one Arrow job.
    assert 0 < len(jobs) <= 2 * len(TABLES) + 2
    # Worker threads inherit the caller's job group.
    assert stray == set()
    # The fixture tables are single files, so their stages are single
    # tasks; the one wider stage is the Arrow job, one task per slot.
    assert [s.numTasks for s in stages if s.numTasks != 1] == [n]


def test_warm_session_on_error(spark, sf_dir, tmp_path):
    missing = "orders"
    for t in TABLES:
        if t != missing:
            os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    n = spark.sparkContext.defaultParallelism
    errors = []
    with _job_group(spark, "test_warm_session_on_error") as tracker:
        warm_session(spark, str(tmp_path),
                     on_error=lambda stage, exc: errors.append((stage, exc)))
        saves = [s for s in _stages(tracker, "test_warm_session_on_error")
                 if s.name.startswith("save")]
    assert [stage for stage, _ in errors] == [missing]
    assert isinstance(errors[0][1], AnalysisException)
    # Every other table's scan and the Arrow job still ran.
    assert len(saves) == len(TABLES)
    assert all(s.numCompletedTasks == s.numTasks for s in saves)
    assert max(s.numTasks for s in saves) == n

    with pytest.raises(AnalysisException):
        warm_session(spark, str(tmp_path))
