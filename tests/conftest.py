import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xcrawl3r_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # the first catalog read (``spark.catalog.listTables()``) creates the
    # default database's directory under the warehouse: keep it out of
    # the working directory
    s = get_spark(
        app="xcrawl3r_spark_tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
