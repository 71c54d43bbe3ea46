import os

import pytest

from dbldatagen_spark.session import tool_session


@pytest.fixture(scope="session")
def spark():
    session = tool_session(
        "dbldatagen_spark-tests", 4, os.environ.get("SPARK_TEST_DRIVER_MEM", "4g")
    )
    yield session
    session.stop()
