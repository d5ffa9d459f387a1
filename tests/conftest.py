import pytest

from pulsar_io_delta_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pids-tests", cpus=4, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture()
def sf_dir():
    return SF_DIR


def planned_slices(partitions) -> list:
    """The file slices a pulsar_delta_cdc reader planned, in order,
    flattened out of the input partitions they are packed into."""
    return [s for group in partitions for s in group.slices]
