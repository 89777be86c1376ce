import os

import pytest

from blink_spark.session import get_spark

# The session default (48g) sizes the driver heap for a 32-core bench host.
# Test inputs are tiny, but with that ceiling the JVM grows its heap instead
# of collecting and the suite's resident set climbs past the memory of a
# small machine; a bounded heap keeps it collecting.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("blink-tests", master="local[4]", shuffle_partitions=8)
    yield s
