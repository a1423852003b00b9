from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from oraaud_kafka_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = os.environ.get(
    "SPARK_GRAFT_CORRECTNESS_SF_DIR", "/root/testdata/sf0.01"
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="oraaud-kafka-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def registry_builds(monkeypatch) -> list:
    """The query functions registry.query runs on a memo miss while a
    test runs, in call order."""
    from oraaud_kafka_spark import registry

    builds: list = []
    build = registry._build

    def counting(fn, spark, sf_dir):
        builds.append(fn)
        return build(fn, spark, sf_dir)

    monkeypatch.setattr(registry, "_build", counting)
    return builds
