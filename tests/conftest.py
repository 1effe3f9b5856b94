import os

import pytest


def _driver_memory() -> str:
    """A quarter of physical memory, at least 2g and at most 16g: the
    session must fit on small hosts (get_spark's default heap is 48g)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = min(16 << 10, max(2 << 10, total // 4 >> 20))
    return f"{mb}m"


@pytest.fixture(scope="session")
def spark():
    from akf_cdparser_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[8]",
                      shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": _driver_memory()})
    yield spark
