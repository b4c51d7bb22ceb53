import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bbc_news_data_pipeline_spark import get_spark  # noqa: E402
from bbc_news_data_pipeline_spark.session import count_py4j_round_trips  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def py4j_round_trips():
    """Callable returning the py4j round trips (gateway commands) sent
    since the fixture was set up (see ``count_py4j_round_trips``)."""
    with count_py4j_round_trips() as sent:
        yield sent
