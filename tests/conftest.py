from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from entity_matchers_spark.session import get_spark

    s = get_spark(app_name="tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
