"""The engine session builder honours the master it is given."""

from __future__ import annotations

from .conftest import SPARK_MASTER


def test_session_fixture_runs_on_requested_master(spark):
    assert spark.sparkContext.master == SPARK_MASTER
