import pytest


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
