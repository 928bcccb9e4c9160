"""Make the benchmark's modules and the engine package importable, and
share one small local Spark session across the probe tests."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from play_bq_gcp_spark.session import get_spark

    import harness

    spark = get_spark(
        app_name="perfbench-tests", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield spark
    harness.stop_session(spark)
