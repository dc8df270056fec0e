import os
import sys
from contextlib import contextmanager

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from renet2_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# session configs a headline plan must be insensitive to (after the
# assert_gpu_and_cpu_are_equal_collect pattern): one query, each
# config, every result equal to the exact DuckDB oracle
CONFIG_MATRIX = {
    "aqe_off": {"spark.sql.adaptive.enabled": "false"},
    "prefer_smj": {"spark.sql.join.preferSortMergeJoin": "true"},
    "no_broadcast": {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    "partitions_1": {"spark.sql.shuffle.partitions": "1"},
    "partitions_200": {"spark.sql.shuffle.partitions": "200"},
    "cached_partitioning_fixed": {
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "false"
    },
}


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="renet2_spark_tests", master="local[8]")
    yield s
    s.stop()


@contextmanager
def sql_conf(spark, conf: dict):
    """Set SQL confs on the shared session for a block, then restore
    the previous values (the session fixture outlives the test)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
