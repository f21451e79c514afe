from __future__ import annotations

import pytest

from confluent_kafka_streams_examples_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ckse-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
