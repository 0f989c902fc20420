import contextlib
import os
import sys
from collections import Counter

import pytest

# the checkout these tests live in (tests/..), whatever its path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from end_to_end_datapipeline_project_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


def make_bronze_df(spark, records):
    """Build the Bronze envelope shape ``{"result": [...]}`` from a list of
    (Lines, VehicleNumber, Lat, Lon, Time) tuples — mirrors the raw API
    snapshot files (FIXTURES.md §1)."""
    from end_to_end_datapipeline_project_spark.schemas import BRONZE_SCHEMA

    rows = [([r for r in records],)]
    return spark.createDataFrame(rows, BRONZE_SCHEMA)


def make_silver_df(spark, rows):
    """Build rows matching the Silver contract (FIXTURES.md §2):
    (Lines, VehicleNumber, Lat, Lon, Time iso-string)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        rows, "Lines string, VehicleNumber string, Lat double, Lon double, Time string"
    )
    return df.withColumn("Time", F.col("Time").cast("timestamp")).withColumn(
        "date", F.to_date("Time")
    )


@pytest.fixture(scope="session")
def spark_prop(spark):
    """Alias fixture so hypothesis @given tests can take the session-scoped
    SparkSession without hypothesis treating it as a strategy argument."""
    return spark


def _group_jobs(spark, build) -> list:
    """Ids of the Spark jobs launched while ``build()`` runs, in a job
    group of its own, drained from the listener bus before reading."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def jobs_launched(spark, build) -> int:
    """Spark jobs the status store records while ``build()`` runs."""
    return len(_group_jobs(spark, build))


def jobs_by_label(spark, build) -> Counter:
    """The jobs ``build()`` launches, counted by ``spark.job.description``
    (a cut labels its job ``cut:<label>``; an unlabelled job counts
    under ``None``)."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = Counter()
    for job in _group_jobs(spark, build):
        d = store.job(job).description()
        out[d.get() if d.isDefined() else None] += 1
    return out


@contextlib.contextmanager
def spark_conf(spark, **kv):
    """Session confs set for a block and restored after it."""
    was = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in was.items():
            spark.conf.set(k, v)
