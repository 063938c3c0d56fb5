from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reactionetl_etl_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("reactionetl-etl-spark-tests", **{"spark.sql.shuffle.partitions": "8"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def session_confs(spark):
    """Set session confs for one test: `session_confs({key: value})`.

    May be called more than once. At teardown each key gets back the
    value it had before the test first set it, or is unset if it had
    none."""
    prior: dict[str, str | None] = {}

    def set_confs(confs: dict[str, str]) -> None:
        for key, value in confs.items():
            prior.setdefault(key, spark.conf.get(key, None))
            spark.conf.set(key, value)

    yield set_confs
    for key, value in prior.items():
        if value is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, value)
