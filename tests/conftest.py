from __future__ import annotations

import pytest

from dataset_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # cores from SPARK_GRAFT_CPUS; 8 shuffle partitions (not the engine's
    # default 32) keep the small test frames from paying per-task overhead
    s = get_spark("dataset_crawler_spark_tests", cores=None, shuffle_partitions=8)
    yield s
    s.stop()
