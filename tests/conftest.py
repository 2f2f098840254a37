import os
import sys

import pytest

# The library's 48g driver-heap default suits the benchmark host; the suite
# sizes its JVM to a small host. Set before any bears_spark.session import,
# which reads it into the session's base conf.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from bears_spark.session import get_session

    s = get_session("bears-spark-tests", master="local[4]", **{"spark.sql.shuffle.partitions": "4"})
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _drain_query_scope():
    """Release what each test's queries registered (caches, scratch dirs,
    sink views) once the test is done with their results."""
    yield
    from bears_spark.caching import release_scoped_caches

    release_scoped_caches()
