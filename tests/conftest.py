from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from gmx.session import get_spark

    s = get_spark("gmx-tests", shuffle_partitions=8)  # width: SPARK_GRAFT_CPUS or nproc
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def no_broadcast(spark):
    """A context manager setting ``autoBroadcastJoinThreshold=-1``: Spark
    broadcasts no join side by size, so the spatial joins route their
    large tier through the coarse cells."""

    @contextmanager
    def refused():
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    return refused


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def doc_ids(spark, sf_dir):
    return sorted(
        int(r.doc_id)
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id").collect()
    )


@pytest.fixture(scope="session")
def metadata(spark, sf_dir):
    from gmx.cache import cached_metadata

    df = cached_metadata(spark, sf_dir)
    df.cache().count()
    return df
