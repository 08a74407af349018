from __future__ import annotations

import uuid

import pytest


@pytest.fixture(scope="session")
def spark():
    from iot_data_pipeline_spark.session import build_session

    s = build_session("pytest", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` -> ``(fn(), number of Spark jobs fn ran)``,
    counted through a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "count_jobs")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


_RECERT_DESELECTED: list[str] = []


def pytest_deselected(items):
    _RECERT_DESELECTED.extend(
        i.nodeid for i in items if i.get_closest_marker("recert") is not None
    )


def pytest_terminal_summary(terminalreporter):
    if _RECERT_DESELECTED:
        terminalreporter.write_line(
            f"{len(_RECERT_DESELECTED)} recert tests deselected by the default "
            'tier; run them with `python -m pytest tests/ -m recert`, or the '
            'whole battery with `python -m pytest tests/ -m ""`'
        )
