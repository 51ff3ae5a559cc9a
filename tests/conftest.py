from __future__ import annotations

import itertools
import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")  # keep test JVM light

_JOB_GROUPS = itertools.count()


def spark_jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it ran), counted through
    a job group of its own (import it: ``from conftest import
    spark_jobs``)."""
    sc = spark.sparkContext
    group = f"counted-jobs-{next(_JOB_GROUPS)}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from d6tstack_spark.session import get_spark

    s = get_spark(app_name="d6tstack_spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def transcripts_path(tmp_path_factory):
    from d6tstack_spark.datagen import write_transcripts

    out = tmp_path_factory.mktemp("transcripts")
    return write_transcripts(str(out), sf=0.001)
