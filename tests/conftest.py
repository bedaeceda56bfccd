from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webscraper_spark.session import get_spark  # noqa: E402
from webscraper_spark.sources.synth import corpus_params, materialize_corpus  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_sf0001"))
    paths = materialize_corpus(spark, 0.001, d)
    return paths


@pytest.fixture(scope="session")
def corpus_sf() -> float:
    return 0.001


@pytest.fixture(scope="session")
def params(corpus_sf):
    return corpus_params(corpus_sf)


@pytest.fixture(scope="session")
def sf001_dir() -> str:
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir() -> str:
    return "/root/testdata/sf0.01"
