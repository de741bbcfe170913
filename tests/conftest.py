import os

import pytest

from building_and_operating_data_pipelines_at_scale_using_ci_cd_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: end-to-end example and pipeline runs (deselect with -m 'not slow')"
    )


@pytest.fixture(scope="session")
def spark():
    s = get_session(
        app_name="pipelines-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    out = {}
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        df.createOrReplaceTempView(t)
        out[t] = df
    return out
