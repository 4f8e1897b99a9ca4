import pytest


@pytest.fixture(scope="session")
def spark():
    from url_pattern_algorithm_spark.session import get_spark

    s = get_spark("perfbench-tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
