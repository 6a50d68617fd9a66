import os
import uuid

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_DIR = os.environ.get("CMW_TEST_SF_DIR", "/root/testdata/sf0.001")


def jobs_in(spark, fn):
    """(fn's result, ids of the Spark jobs it fired). Each call counts in
    a job group of its own: a reused group name would also return the
    earlier calls' jobs."""
    sc = spark.sparkContext
    group = f"jobs_in_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
        return result, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.fixture(scope="session")
def spark():
    from cm_well_spark.session import get_spark

    s = get_spark("cm_well_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def infotons(spark, sf_dir):
    from cm_well_spark.model.lakehouse import load_infotons

    df = load_infotons(spark, sf_dir).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def triples(spark, sf_dir):
    from cm_well_spark.model.lakehouse import load_triples

    return load_triples(spark, sf_dir)
