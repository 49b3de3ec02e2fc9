import os

import pytest

# The shared session's driver heap: the smallest tried that holds the
# suite. On a 4 vCPU, 16 GB host the session JVM peaked at 9,281 MB VmHWM
# (11,017 MB summed over the suite's processes) under get_spark's 8g
# default and at 7,220 MB (8,983 MB) at 6g, every test passing; at 4g
# test_interaction_fuzz dies of a Java heap OutOfMemoryError in plan
# canonicalization, and at 2g it stalls in full GCs. An explicit
# SPARK_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "fault: fault injection on a local-cluster master (tests/test_faults.py)",
    )


@pytest.fixture(scope="session")
def spark():
    from copybook_rs_spark.session import get_spark

    s = get_spark("cbsp-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
