import pytest


@pytest.fixture(scope="session")
def spark():
    from akf_cdparser_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[8]",
                      shuffle_partitions=8)
    yield spark
