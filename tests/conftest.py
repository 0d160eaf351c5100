from __future__ import annotations

import os
import tempfile
import uuid

import pytest

from supplier_performance_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # Partition-invariance knobs: the oracle-parity suite re-run under
    # a different parallelism/shuffle sizing (e.g.
    # SPARK_GRAFT_TEST_MASTER=local[3] SPARK_GRAFT_TEST_SHUFFLE=7)
    # must produce the SAME hashes — any query whose
    # result depends on partition count or task order is a determinism
    # bug the sweep then catches.
    spark = get_spark(
        app_name="engine-tests",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        shuffle_partitions=int(
            os.environ.get("SPARK_GRAFT_TEST_SHUFFLE", "8")
        ),
        extra_conf={
            # saveAsTable targets (bucketed-write tests) go to a temp
            # warehouse, never the repo working directory.
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    yield spark


@pytest.fixture
def job_count(spark):
    """``job_count(fn)`` runs ``fn()`` under a fresh Spark job group and
    returns its result and the number of jobs that group ran."""
    sc = spark.sparkContext

    def run(fn):
        group = f"job-count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
