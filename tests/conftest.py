from __future__ import annotations

import pytest

from word_sense_disambiguation_spark.datagen import build_world, world_to_spark
from word_sense_disambiguation_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="wsd_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def world():
    return build_world(n_pages=120, seed=42)


@pytest.fixture(scope="session")
def sworld(spark, world):
    return world_to_spark(spark, world)
