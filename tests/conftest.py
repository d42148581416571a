import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from synapse_etl_jobs_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Job-count tests read stage names back from the status store. Past
    # spark.ui.retainedStages (default 1000) the store evicts stages
    # oldest-completion first, and a stage a later job reuses is
    # rewritten as SKIPPED with no completion time, so it goes first —
    # even while its job's test is reading it. Keep every stage.
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.ui.retainedStages": "1000000"})
    yield s


@pytest.fixture()
def aqe_coalesce_off(spark):
    """Turn off AQE partition coalescing for one test: a small batch then
    gets the multi-file bucketed layout only a large batch gets with it
    on (one writer task per shuffle slot instead of one per bucket)."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.fixture()
def tmp_table_path(tmp_path):
    return str(tmp_path / "table")
