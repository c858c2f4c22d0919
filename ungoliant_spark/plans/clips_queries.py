"""Driver-contract queries over the clips (audio+transcript) table —
the BASELINE.json input_hint shape. The clips fixture is synthesized
deterministically (seed 42) at the scale factor matching ``sf_dir``;
no external data. These are model/binary operators with no closed-form
SQL twin, so their oracles (ungoliant_spark.oracle_sql_clips) read
fixture-expected parquet tables computed outside Spark: the frozen
label table (pure-Python reference oracle) and an independent-decode
audio table. Additional gates live in tests/ (F1 vs frozen labels,
SNR, UDF-vs-direct parity).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ungoliant_spark.functions.lines import rust_lines
from ungoliant_spark.operators.audio_ops import audio_stats, resample
from ungoliant_spark.operators.lid import apply_lid
from ungoliant_spark.plans.pipeline import decide
from ungoliant_spark.plans.pipeline import run as pipeline_run
from ungoliant_spark.sources.fixtures import (
    ADULT_CATEGORY,
    ADULT_TERMS,
    generate,
)

TERM_MAP = {t: ADULT_CATEGORY for t in ADULT_TERMS}


def load_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else 0.01
    d = generate(sf, with_labels=False)
    return spark.read.parquet(f"{d}/clips.parquet")


def q_clips_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline decision per clip (keep + reasons)."""
    df = decide(load_clips(spark, sf_dir), TERM_MAP)
    # n_warnings masked to heuristic survivors: the frozen label table
    # stores [] for trim/pfilter-dropped rows (annotations of a doc
    # that never reached the annotator stage are not part of the spec)
    return df.select(
        "clip_id",
        "keep",
        "trim_keep",
        # PFilter runs only on trim survivors (drop-if-empty precedes
        # it, pipeline.rs:162-198); on an empty doc the engine's ratio
        # is vacuously true — mask to the label spec (False)
        (F.col("trim_keep") & F.col("pfilter_keep")).alias("pfilter_keep"),
        # defined only for rows that reach the annotator stage (the
        # label table stores the pre-stage default True otherwise)
        F.when(
            F.col("trim_keep") & F.col("pfilter_keep"),
            F.col("annotation_keep"),
        )
        .otherwise(F.lit(True))
        .alias("annotation_keep"),
        "lid_keep",
        "lang",
        F.round(F.col("lang_prob").cast("double"), 5).alias("lang_prob"),
        F.when(
            F.col("trim_keep") & F.col("pfilter_keep"),
            F.size("quality_warnings"),
        )
        .otherwise(F.lit(0))
        .alias("n_warnings"),
    )


def q_clips_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept sink projection (metadata only — audio stays columnar).
    Array columns are serialized to sorted CSV strings: the driver's
    canonicalizer sorts rows by every column and cannot hash lists."""
    out = pipeline_run(load_clips(spark, sf_dir), TERM_MAP)
    return out.select(
        "clip_id",
        "lang",
        F.round(F.col("lang_prob").cast("double"), 5).alias("lang_prob"),
        F.array_join(F.array_sort("quality_warnings"), ",").alias(
            "warnings"
        ),
        F.coalesce(
            F.array_join(F.array_sort("categories"), ","), F.lit("")
        ).alias("categories"),
        F.round(F.col("harmful_pp").cast("double"), 2).alias("harmful_pp"),
        "tlsh",
        F.col("line_start").cast("int").alias("line_start"),
        F.col("line_end").cast("int").alias("line_end"),
    )


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = audio_stats(load_clips(spark, sf_dir))
    # cast f32 → double before rounding so the engine and the DuckDB
    # oracle round the identical double value
    return stats.select(
        "clip_id",
        "decode_ok",
        "n_samples",
        F.round(F.col("rms").cast("double"), 3).alias("rms"),
        "peak",
        F.round(F.col("zcr").cast("double"), 5).alias("zcr"),
        F.round(F.col("centroid_hz").cast("double"), 2).alias("centroid_hz"),
        "afp",
    )


def q_audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-clip energy frames in long format (the audio analog of
    video frame-sampling) — one row per (clip, frame index)."""
    stats = audio_stats(load_clips(spark, sf_dir))
    return stats.filter(F.col("decode_ok")).select(
        "clip_id",
        F.posexplode("frame_energy").alias("frame_idx", "energy"),
    ).select(
        "clip_id",
        "frame_idx",
        F.round(F.col("energy").cast("double"), 3).alias("energy"),
    )


def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = resample(load_clips(spark, sf_dir), target_sr=16000)
    return res.select(
        "clip_id", "target_sr", "n_samples_out",
        F.octet_length("bytes_out").alias("n_bytes_out"),
    )


def q_audio_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint near-dup pairs
    (operators/audio_ops.audio_dup_pairs): the fixture plants a
    near-dup re-upload every DUP_PERIOD rows (same PCM, new gain +
    noise floor, possibly a different container); the oracle is the
    naive O(n²) bit_count join over the independent-decode expected
    fingerprints."""
    from ungoliant_spark.operators.audio_ops import audio_dup_pairs

    return audio_dup_pairs(load_clips(spark, sf_dir))


def q_audio_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic near-dup clusters
    (operators/audio_ops.audio_dup_components): rep-level label
    propagation over distinct fingerprints; the oracle recomputes the
    CLIP-level graph's components with a recursive CTE, so the
    rep-graph equivalence is hash-checked, not assumed."""
    from ungoliant_spark.operators.audio_ops import audio_dup_components

    return audio_dup_components(load_clips(spark, sf_dir))


def q_audio_dedup_against(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus acoustic dedup
    (operators/audio_ops.audio_dedup_against): even-index clips play
    the committed reference corpus, odd-index clips the new crawl —
    a deterministic split both engines replicate from the clip_id.
    The fixture's planted re-uploads duplicate the PREVIOUS row's
    audio, so plants at odd indices must flag against their
    even-index reference neighbor."""
    from pyspark.sql import functions as F

    from ungoliant_spark.operators.audio_ops import audio_dedup_against

    clips = load_clips(spark, sf_dir)
    idx = F.substring("clip_id", 6, 8).cast("int")
    return audio_dedup_against(
        clips.filter(idx % 2 == 1), clips.filter(idx % 2 == 0)
    )


def q_audio_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE driver row hash-checking BOTH per-clip signal operators
    jointly — speech_rate (cross-modal transcript/duration sanity,
    pure Catalyst, bytes pruned from its scan) and audio_vad
    (energy-run voice activity via a JVM higher-order fold over the
    shared decode pass; oracle twin recomputes runs with
    gaps-and-islands windows). Combined because the driver's
    correctness artifact records at most 50 rows (r06 recorded
    exactly the first 50 of 52 registered queries; r05 recorded
    46/46) — each operator keeps its own unit/plan gates in
    tests/test_audio_signals.py, and every output column of both
    operators is still value-hashed here. Both sides are total over
    clips (vad annotates undecodable clips with null signals), so
    the clip_id equi-join is row-preserving."""
    from ungoliant_spark.operators.audio_ops import audio_vad, speech_rate

    clips = load_clips(spark, sf_dir)
    return speech_rate(clips).join(audio_vad(clips), "clip_id")


def q_audio_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-side quality gate (operators/audio_ops.audio_quality):
    pure Catalyst over the hash-verified stats features; the oracle
    recomputes the gate from the independent-decode expected table."""
    from ungoliant_spark.operators.audio_ops import audio_quality

    return audio_quality(load_clips(spark, sf_dir))


def q_lid_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LID model over the shared documents table (one line per doc)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = df.withColumn("lines", rust_lines(F.col("text")))
    return apply_lid(df).select(
        "doc_id",
        "lang",
        F.round(F.col("lang_prob").cast("double"), 5).alias("lang_prob"),
    )
