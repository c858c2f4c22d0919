"""The runtime profile (ungoliant_spark.session): the host derivation as
a pure function, queries that leave the session's confs alone, a
spark-submit session that keeps its own shuffle settings, and the Arrow
batch bounds the test session actually runs with."""

from __future__ import annotations

import importlib
import os

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ungoliant_spark.plans.clips_queries import q_audio_stats, q_clips_decisions
from ungoliant_spark.session import host_profile, usable_resources

GiB = 1 << 30


@pytest.mark.parametrize(
    "cores,phys,env,master,expected",
    [
        (4, 15 * GiB, {}, None, (4, "3840m")),  # a quarter of memory binds
        (32, 256 * GiB, {}, None, (32, "48g")),  # 1.5 GiB per core binds
        (2, 2 * GiB, {}, None, (2, "1g")),  # the 1 GiB floor binds
        (4, 15 * GiB, {"SPARK_DRIVER_MEM": "8g"}, None, (4, "8g")),
        (4, 256 * GiB, {"SPARK_GRAFT_CPUS": "32"}, None, (32, "48g")),
        (
            4,
            15 * GiB,
            {"SPARK_GRAFT_CPUS": "16", "SPARK_DRIVER_MEM": "2g"},
            None,
            (16, "2g"),
        ),
        # an explicit local[N] master sets the slots; local[*] does not
        (32, 256 * GiB, {"SPARK_GRAFT_CPUS": "32"}, "local[4]", (4, "6g")),
        (4, 256 * GiB, {"SPARK_GRAFT_CPUS": "32"}, "local[*]", (32, "48g")),
    ],
)
def test_host_profile(cores, phys, env, master, expected):
    assert host_profile(cores, phys, env, master) == expected


def test_usable_resources_within_host():
    cores, mem = usable_resources()
    assert 1 <= cores <= os.cpu_count()
    assert 0 < mem <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_clips_queries_leave_session_confs_unchanged(spark):
    before = spark.conf.getAll
    for q in (q_clips_decisions, q_audio_stats):
        q(spark, "sf0.001").write.format("noop").mode("overwrite").save()
    assert spark.conf.getAll == before


def test_submit_session_keeps_its_shuffle_settings(spark, monkeypatch):
    """Under spark-submit each job applies only the batch bounds: a
    shuffle partition count given as a submit flag reaches the job
    body. A stream freezes that count into its checkpoint as the
    number of state partitions."""
    jobs = {
        "run_pipeline": ["--input", "in", "--output", "out"],
        "run_stream": ["--mode", "dedup", "--input", "in", "--output", "out",
                       "--checkpoint", "ckpt"],
    }
    seen = {}

    def run_job(session, args):
        seen["session"] = session
        seen["shuffle"] = session.conf.get("spark.sql.shuffle.partitions")
        seen["batch"] = session.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")

    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    # each job ends by stopping its session, here the shared one
    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try:
        for job, argv in jobs.items():
            mod = importlib.import_module(f"jobs.{job}")
            monkeypatch.setattr(mod, "run_job", run_job)
            seen.clear()
            assert mod.main(argv) == 0
            assert seen == {"session": spark, "shuffle": "13", "batch": "8192"}, job
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_arrow_batches_capped_by_bytes_and_rows(spark):
    row_bytes = 64 << 10
    wide = spark.range(1536, numPartitions=1).select(
        F.expr(f"cast(repeat('x', {row_bytes}) as binary)").alias("b")
    )

    def batch_sizes(it):
        for pdf in it:
            yield pd.DataFrame({"n": [len(pdf)]})

    sizes = [r.n for r in wide.mapInPandas(batch_sizes, "n long").collect()]
    assert sum(sizes) == 1536
    # Spark's 64 MB maxBytesPerBatch default binds before the row cap
    assert max(sizes) <= (64 << 20) // row_bytes

    @pandas_udf("long")
    def batch_len(s: pd.Series) -> pd.Series:
        return pd.Series([len(s)] * len(s))

    narrow = spark.range(10_000, numPartitions=1).select(
        F.expr("repeat('x', 200)").alias("t")
    )
    assert narrow.select(F.max(batch_len("t"))).first()[0] == 8192
