import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from s2_geometry_library_java_spark.session import get_spark

    # one local core per CPU the suite is given (SPARK_GRAFT_CPUS, else the
    # affinity mask); the shuffle width stays fixed so plans are the same on
    # every box
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    s = get_spark("pytest", master=f"local[{cpus}]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"
