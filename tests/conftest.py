from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from kgspark.session import get_spark

    s = get_spark(app_name="kgspark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
