import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from nerpii_spark.session import get_spark

    # The session's default 24g heap can exceed the host's memory: G1 grows
    # the heap toward -Xmx under allocation pressure, and on a 16 GB VM the
    # suite's driver JVM reached 15.6 GB RSS and was OOM-killed. A caller's
    # export still wins.
    os.environ.setdefault("NERPII_SPARK_DRIVER_MEM", "6g")
    s = get_spark(app_name="nerpii_spark_tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
