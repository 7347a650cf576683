import pytest


@pytest.fixture(scope="session")
def spark():
    from s2_geometry_library_java_spark.session import get_spark

    # get_spark sizes local[N] from the box; the shuffle width stays fixed
    # so plans are the same on every box
    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"
