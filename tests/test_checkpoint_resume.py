"""Snapshot checkpointing: crash mid-run → resume → identical final
tables, no duplicate rows; lineage round-trip rebuild equals the kept
output pre-scrub (mirrors tests/oscardoc_rebuild.rs:19-69)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from ungoliant_spark.operators.scrub import scrub
from ungoliant_spark.plans.checkpoint import CheckpointedRun, rebuild
from ungoliant_spark.sources.fixtures import generate

OUT = "/root/repo/.cache/test_ckpt"


@pytest.fixture(scope="module")
def clips(spark):
    d = generate(0.001)
    return spark.read.parquet(f"{d}/clips.parquet")


def test_crash_resume_no_dups(spark, clips):
    shutil.rmtree(OUT, ignore_errors=True)
    run = CheckpointedRun(OUT)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(clips, n_chunks=4, fail_after=2)
    assert len(run.kept.committed_chunks()) == 2

    # resume with a fresh runner (new process semantics)
    run2 = CheckpointedRun(OUT)
    newly = run2.run(clips, n_chunks=4)
    assert len(newly) == 2
    assert len(run2.kept.committed_chunks()) == 4

    final = run2.kept.read(spark)
    n = final.count()
    assert final.select("clip_id").distinct().count() == n  # no dups

    # a third run is a complete no-op
    assert CheckpointedRun(OUT).run(clips, n_chunks=4) == set()
    assert run2.kept.read(spark).count() == n

    # one-shot reference: same pipeline, no chunking
    from ungoliant_spark.plans.pipeline import run as pipeline_run

    direct = pipeline_run(clips).select("clip_id")
    assert (
        direct.subtract(final.select("clip_id")).count() == 0
        and final.select("clip_id").subtract(direct).count() == 0
    )


def test_torn_chunk_resume(spark, clips):
    """Crash BETWEEN the three per-chunk appends (lineage committed,
    kept not): the chunk must NOT count as done — resume reprocesses
    it and all three tables end row-consistent."""
    out = OUT + "_torn"
    shutil.rmtree(out, ignore_errors=True)
    run = CheckpointedRun(out)
    orig_append = run.metrics.append

    def exploding_append(df, chunk_id, **kw):
        raise RuntimeError("simulated crash between appends")

    run.metrics.append = exploding_append
    with pytest.raises(RuntimeError, match="between appends"):
        run.run(clips, n_chunks=2)
    # lineage has chunk-00000, metrics/kept do not → not done
    assert run.lineage.committed_chunks() == {"chunk-00000"}
    assert run.kept.committed_chunks() == set()
    assert run.committed_chunks() == set()

    run2 = CheckpointedRun(out)
    newly = run2.run(clips, n_chunks=2)
    assert newly == {"chunk-00000", "chunk-00001"}
    kept = run2.kept.read(spark)
    lineage = run2.lineage.read(spark)
    # idempotent re-append: no duplicate lineage rows for the torn chunk
    assert lineage.count() == kept.count()
    assert (
        lineage.select("record_id").distinct().count() == kept.count()
    )
    import os

    assert os.path.exists(os.path.join(out, "metadata_schema.json"))
    shutil.rmtree(out, ignore_errors=True)


def test_lineage_rebuild_roundtrip(spark, clips):
    run = CheckpointedRun(OUT)  # committed by the previous test
    lineage = run.lineage.read(spark)
    kept = run.kept.read(spark)
    rebuilt = rebuild(lineage, clips)
    # scrub(rebuilt content) must equal the kept (scrubbed) transcript
    joined = rebuilt.withColumn("rescrubbed", scrub(F.col("content"))).join(
        kept.select("clip_id", "transcript"),
        rebuilt.record_id == kept.clip_id,
    )
    assert joined.count() == kept.count()
    mismatches = joined.filter(F.col("rescrubbed") != F.col("transcript"))
    assert mismatches.count() == 0


def test_snapshot_checksums(spark, clips):
    run = CheckpointedRun(OUT)  # committed by the first test
    assert run.kept.verify_checksums() == []
    # corrupt one data file → detected
    import glob
    import os

    victim = sorted(
        glob.glob(os.path.join(run.kept.root, "data", "**", "*.parquet"),
                  recursive=True)
    )[0]
    orig = open(victim, "rb").read()
    try:
        with open(victim, "r+b") as f:
            f.seek(10)
            f.write(b"\x00\x01\x02")
        bad = run.kept.verify_checksums()
        assert len(bad) == 1 and bad[0] in victim
    finally:
        with open(victim, "wb") as f:
            f.write(orig)
    assert run.kept.verify_checksums() == []


def test_lineage_matches_row_number_reference(spark, clips):
    """lineage_of numbers each output partition's rows in record_id
    order without a shuffle; the window form it replaced is the
    reference, on a kept frame of several partitions."""
    from pyspark.sql import Window

    from ungoliant_spark.plans.checkpoint import lineage_of
    from ungoliant_spark.plans.pipeline import run as pipeline_run

    # rows within a partition in reverse record order: a shuffle
    # promises no order, and the fixture's ids arrive sorted
    kept = (
        pipeline_run(clips, n_partitions=6)
        .sortWithinPartitions(F.desc("clip_id"))
        .cache()
    )
    try:
        assert kept.rdd.getNumPartitions() >= 4
        got = lineage_of(kept, "chunk-x")
        w = Window.partitionBy("shard_id").orderBy("record_id")
        ref = kept.select(
            F.lit("chunk-x").alias("chunk_id"),
            F.spark_partition_id().cast("long").alias("shard_id"),
            F.col("clip_id").alias("record_id"),
            "line_start",
            "line_end",
            "lang_bucket",
        ).withColumn("loc_in_shard", F.row_number().over(w).cast("long") - 1)
        assert got.schema == ref.schema
        assert got.count() == kept.count() > 0
        assert got.select("shard_id").distinct().count() >= 4
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0

        def shuffles_above_cache(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return "Exchange" in plan.split("InMemoryRelation")[0]

        assert not shuffles_above_cache(got)
        assert shuffles_above_cache(ref)
    finally:
        kept.unpersist()


def test_metrics_table(spark, clips):
    run = CheckpointedRun(OUT)
    m = run.metrics.read(spark)
    kept = run.kept.read(spark)
    total = m.agg(F.sum("n_docs")).collect()[0][0]
    assert total == kept.count()
    assert set(m.columns) >= {
        "chunk_id", "lang_bucket", "n_docs", "sum_dur_ms",
        "sum_audio_bytes", "avg_harmful_pp",
    }


def test_file_range_chunking_scans_only_its_files(spark, clips, tmp_path):
    """Round-2 verdict item 1: chunk k's scan must read ONLY its
    assigned file subset (one scan of the input for the whole run),
    not re-scan the full input per chunk."""
    import os

    from ungoliant_spark.plans.checkpoint import plan_chunks

    src = str(tmp_path / "multi")
    clips.repartition(8).write.parquet(src)
    multi = spark.read.parquet(src)
    n_chunks = 4
    chunk_df, strategy, files = plan_chunks(multi, n_chunks)
    assert strategy == "files"
    assert len(files) >= 8
    seen: set[str] = set()
    for k in range(n_chunks):
        got = {os.path.normpath(p.replace("file:", ""))
               for p in chunk_df(k).inputFiles()}
        expect = {os.path.normpath(p.replace("file:", ""))
                  for p in files[k::n_chunks]}
        assert got == expect, (k, got, expect)
        assert not (got & seen)  # disjoint
        seen |= got
    # union covers every input file exactly once
    all_files = {os.path.normpath(p.replace("file:", ""))
                 for p in files}
    assert seen == all_files
    # and the union of chunk rows is exactly the input
    total = sum(chunk_df(k).count() for k in range(n_chunks))
    assert total == multi.count()


def test_hash_fallback_for_unsplittable_input(spark, clips):
    """Fewer files than chunks (or a transformed DataFrame) must fall
    back to the hash predicate, never silently drop rows."""
    from ungoliant_spark.plans.checkpoint import plan_chunks

    # single-file fixture, 4 chunks → unsplittable
    chunk_df, strategy, files = plan_chunks(clips, 4)
    assert strategy == "hash" and files is None
    # a transformed DataFrame (non-leaf plan) likewise
    chunk_df2, strategy2, _ = plan_chunks(clips.filter("dur_ms > 0"), 2)
    assert strategy2 == "hash"
    total = sum(chunk_df(k).count() for k in range(4))
    assert total == clips.count()


def test_chunk_plan_pinned_across_resume(spark, clips, tmp_path):
    """The chunk→file assignment is pinned at first run; a resume uses
    the pinned plan even if the input listing changed, and chunked
    output equals the direct unchunked run."""
    import shutil as sh

    from ungoliant_spark.plans.checkpoint import CheckpointedRun
    from ungoliant_spark.plans.pipeline import run as pipeline_run

    src = str(tmp_path / "multi2")
    clips.repartition(8).write.parquet(src)
    multi = spark.read.parquet(src)
    out = str(tmp_path / "out")
    run = CheckpointedRun(out)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(multi, n_chunks=4, fail_after=2)
    import json
    import os

    plan = json.load(open(os.path.join(out, "chunks.json")))
    assert plan["strategy"] == "files" and plan["n_chunks"] == 4

    # input directory grows mid-run — the pinned assignment must win
    extra = clips.limit(0)
    extra.write.mode("append").parquet(src)

    run2 = CheckpointedRun(out)
    # wrong n_chunks on resume is an error, not silent misalignment
    with pytest.raises(ValueError, match="n_chunks"):
        run2.run(spark.read.parquet(src), n_chunks=8)
    newly = run2.run(spark.read.parquet(src), n_chunks=4)
    assert len(newly) == 2

    final = run2.kept.read(spark).select("clip_id")
    direct = pipeline_run(multi).select("clip_id")
    assert direct.subtract(final).count() == 0
    assert final.subtract(direct).count() == 0
    sh.rmtree(out, ignore_errors=True)


def test_resume_rejects_transformed_input_under_file_plan(spark, clips, tmp_path):
    """A pinned file-range plan re-reads raw files, which would
    silently ignore a filter on a transformed resume input — such a
    resume must be rejected, not produce wrong data."""
    from ungoliant_spark.plans.checkpoint import CheckpointedRun

    src = str(tmp_path / "multi3")
    clips.repartition(8).write.parquet(src)
    multi = spark.read.parquet(src)
    out = str(tmp_path / "out3")
    run = CheckpointedRun(out)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(multi, n_chunks=4, fail_after=1)
    with pytest.raises(ValueError, match="bare file scan"):
        CheckpointedRun(out).run(
            spark.read.parquet(src).filter("dur_ms > 0"), n_chunks=4
        )


def test_manifest_chunk_planning_no_plan_introspection(spark, clips, tmp_path):
    """Round-3 verdict item 6: a SnapshotTable input plans file-range
    chunks from its manifest JSON alone — metadata-only, no
    `scan_files` plan introspection (monkeypatch-proof), same
    round-robin assignment, union of chunks == committed rows."""
    import json
    import os
    from unittest import mock

    from ungoliant_spark.plans import checkpoint as cp
    from ungoliant_spark.sources.tables import SnapshotTable

    root = str(tmp_path / "snaptbl")
    tbl = SnapshotTable(root)
    half = clips.limit(40)
    tbl.append(half.repartition(4), "chunk-00000")
    tbl.append(clips.subtract(half).repartition(4), "chunk-00001")

    files = cp.manifest_files(root)
    assert files is not None and len(files) >= 8
    assert files == tbl.files()
    # not a SnapshotTable root → None (caller falls back)
    assert cp.manifest_files(str(tmp_path)) is None

    df = spark.read.parquet(*files)
    pin = str(tmp_path / "chunks.json")
    with mock.patch.object(
        cp, "scan_files", side_effect=AssertionError("introspection used")
    ):
        chunk_df, strategy = cp.load_or_pin_chunk_plan(
            df, 4, pin, files=files
        )
    assert strategy == "files"
    assert json.load(open(pin))["files"] == files
    total = sum(chunk_df(k).count() for k in range(4))
    assert total == clips.count()
    # chunk file subsets are the pinned round-robin assignment
    got0 = {os.path.normpath(p.replace("file:", ""))
            for p in chunk_df(0).inputFiles()}
    assert got0 == {os.path.normpath(p) for p in files[0::4]}


def test_scan_files_private_api_failure_degrades_loudly(spark, clips):
    """Round-3 verdict item 8: `scan_files` walks private JVM
    internals (`_jdf.queryExecution`); when a Spark upgrade changes
    that shape it must degrade to the hash-chunk fallback (slow but
    correct), not crash or mis-chunk."""
    from ungoliant_spark.plans.checkpoint import plan_chunks, scan_files

    class _Boom:
        def __getattr__(self, name):
            raise RuntimeError("internal API changed")

    broken = clips.alias("c")
    real_jdf = broken._jdf  # plain instance attribute in classic pyspark
    broken._jdf = _Boom()
    try:
        assert scan_files(broken) is None
        chunk_df, strategy, files = plan_chunks(broken, 2)
        assert strategy == "hash" and files is None
    finally:
        broken._jdf = real_jdf
    # the fallback chunking still covers every row exactly once
    total = sum(chunk_df(k).count() for k in range(2))
    assert total == clips.count()


def test_run_config_pinned_across_resume(spark, clips, tmp_path):
    """ADVICE r6: pipeline-affecting flags are pinned with the first
    chunk and a resume under DIFFERENT flags refuses loudly — the
    done-set skip would otherwise mix gated and ungated chunks in one
    kept table. Also: committed chunks with no config pin (pre-guard
    output / wrong CWD) refuse, because the original flags are
    unknowable."""
    import json
    import os

    out = str(tmp_path / "cfg_out")
    run = CheckpointedRun(out)
    with pytest.raises(RuntimeError, match="simulated crash"):
        run.run(clips, n_chunks=4, fail_after=1, audio_gate=True)
    cfg_path = os.path.join(out, "run_config.json")
    assert json.load(open(cfg_path)) == {
        "audio_gate": True,
        "rate_gate": False,
        "terms_hash": None,
    }
    # resume without the gate -> loud mismatch, nothing new committed
    before = CheckpointedRun(out).committed_chunks()
    with pytest.raises(RuntimeError, match="run config mismatch"):
        CheckpointedRun(out).run(clips, n_chunks=4)
    # different blocklist -> also a mismatch (terms_hash differs)
    with pytest.raises(RuntimeError, match="run config mismatch"):
        CheckpointedRun(out).run(
            clips, n_chunks=4, term_to_category={"x": "adult"},
            audio_gate=True,
        )
    assert CheckpointedRun(out).committed_chunks() == before
    # same flags -> resume completes
    CheckpointedRun(out).run(clips, n_chunks=4, audio_gate=True)
    assert len(CheckpointedRun(out).committed_chunks()) == 4
    # missing pin over committed chunks -> refuse (flags unknowable)
    os.remove(cfg_path)
    with pytest.raises(RuntimeError, match="no run-config pin"):
        CheckpointedRun(out).run(clips, n_chunks=4, audio_gate=True)


def test_blocklist_hash_order_independent():
    from ungoliant_spark.plans.checkpoint import blocklist_hash

    a = {"t1": "adult", "t2": "gambling"}
    b = dict(reversed(list(a.items())))
    assert blocklist_hash(a) == blocklist_hash(b)
    assert blocklist_hash(None) is None and blocklist_hash({}) is None
    assert blocklist_hash({"t1": "adult"}) != blocklist_hash(a)
