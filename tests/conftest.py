"""Shared fixtures: one local SparkSession per test run, sf0.001 inputs."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from instacart_medallion_lakehouse_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # The derived-table store defaults to a directory that outlives the
    # process: a run could then pass against assets an earlier checkout
    # built. Give each test session its own store (tests that set
    # SPARK_GRAFT_SHARED_DIR themselves still override it), and drop
    # its assets and bucketed catalog tables before the session stops.
    from instacart_medallion_lakehouse_spark import queries

    if "SPARK_GRAFT_SHARED_DIR" not in os.environ:
        os.environ["SPARK_GRAFT_SHARED_DIR"] = str(
            tmp_path_factory.mktemp("shared_store")
        )
    s = build_session("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    queries.clear_shared_store()
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    if not os.path.isdir(SF_DIR):
        # CI / fresh-clone hosts have no driver-generated testdata —
        # fixture-backed tests skip, inline-data tests still run
        pytest.skip(f"testdata dir {SF_DIR} not present on this host")
    return SF_DIR
