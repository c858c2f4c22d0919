from __future__ import annotations

import pytest

from ungoliant_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ungoliant-tests", master="local[4]")
    yield s
    s.stop()
