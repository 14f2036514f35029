from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_streaming_kafka2elasticsearch_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    spark = build_session(
        master="local[4]",
        app_name="tests",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield spark


@pytest.fixture
def twins(monkeypatch):
    """Both execution legs of a gated operator: iterating sets
    ``SPARK_GRAFT_TWINS=1`` (driver twins and Arrow kernels on), then
    ``SPARK_GRAFT_TWINS=0`` (the distributed leg), and yields the
    setting as a label for assertion messages."""

    def legs():
        for flag in ("1", "0"):
            monkeypatch.setenv("SPARK_GRAFT_TWINS", flag)
            yield f"SPARK_GRAFT_TWINS={flag}"

    return legs()


SF_DIR = "/root/testdata/sf0.001"
