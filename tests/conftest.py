import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = os.path.join(TESTDATA, "sf0.001")
SF_ORACLE = os.path.join(TESTDATA, "sf0.01")


def _host_sized_driver_memory() -> str:
    """A third of this host's memory, 2-48 GB. get_spark's 48g default
    lets the test JVM's heap outgrow a small host until the kernel kills it."""
    host_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(2, min(48, int(host_gb / 3)))}g"


@pytest.fixture(scope="session")
def spark():
    from duckdb_routing_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _host_sized_driver_memory())
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def grid_graph_auto():
    from duckdb_routing_spark.testing import build_grid_graph

    return build_grid_graph("auto")
