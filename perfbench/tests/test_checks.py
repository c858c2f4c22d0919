"""The benchmark's output checks, on tiny DataFrames in a local session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    yield session
    session.stop()


def test_bytes_mismatches_counts_changed_nulled_and_unknown_rows(spark):
    import workloads

    schema = "clip_id string, bytes binary"
    src = spark.createDataFrame([("a", b"\x01"), ("b", b"\x02"), ("c", b"\x03")], schema)
    assert workloads._bytes_mismatches(src, src) == 0
    kept = spark.createDataFrame(
        [("a", b"\x01"), ("b", None), ("c", b"\x09"), ("z", b"\x01")],
        schema,
    )
    # b lost its audio, c's audio changed, z is not in the input
    assert workloads._bytes_mismatches(kept, src) == 3
