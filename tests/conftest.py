from __future__ import annotations

import os

import pytest

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
FIXTURES = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")


@pytest.fixture(scope="session")
def spark():
    from big_data_hw_23_24_spark.session import get_session

    # Small driver heap + fewer shuffle partitions: test data is tiny
    # and pytest runs many jobs; keep scheduling overhead low.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    spark = get_session("tests", master="local[8]",
                        extra_confs={"spark.sql.shuffle.partitions": "8"})
    yield spark


@pytest.fixture(scope="session")
def testn15(spark):
    from big_data_hw_23_24_spark.sources import read_points_csv
    from pyspark.sql import functions as F

    df = read_points_csv(spark, os.path.join(FIXTURES, "testn15.csv"))
    return df.withColumn("pid", F.monotonically_increasing_id()).cache()


@pytest.fixture
def shuffle_partitions(spark):
    """Set ``spark.sql.shuffle.partitions`` for one test, with AQE
    partition coalescing off, so a range repartition with no explicit
    count (the ``operators.ranking`` spine) makes that many
    partitions — the way a session reaches a multi-partition spine."""
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled")
    saved = {k: spark.conf.get(k) for k in keys}

    def set_partitions(n: int) -> None:
        spark.conf.set(keys[0], str(n))
        spark.conf.set(keys[1], "false")

    yield set_partitions
    for k, v in saved.items():
        spark.conf.set(k, v)
