import os
import shutil

import pytest

from crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # never more task threads than usable CPUs; shuffle partitions stay
    # 8 on every host, so file layouts and results do not depend on it
    cores = min(8, len(os.sched_getaffinity(0)))
    s = get_spark(cores, app_name="crawler_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture()
def store_dir(tmp_path):
    d = tmp_path / "snapshots"
    yield str(d)
    shutil.rmtree(d, ignore_errors=True)
