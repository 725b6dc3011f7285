import os
import shutil
import tempfile

import pytest

from feast_java_old_spark.sources.tables import session_builder

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = session_builder(
        "feast_java_old_spark-tests",
        **{
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_warehouse_"),
        },
    ).getOrCreate()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture()
def tmp_store():
    d = tempfile.mkdtemp(prefix="online_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)
