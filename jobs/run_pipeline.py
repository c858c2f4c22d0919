"""spark-submit entrypoint for the quality-filter pipeline.

    spark-submit --py-files ungoliant_spark.zip jobs/run_pipeline.py \
        --input  /path/or/catalog.db.clips \
        --output /path/to/output_root \
        --chunks 64 --partitions 256 [--blocklist terms.csv] \
        [--format snapshot|iceberg] [--jsonl-out DIR] \
        [--dedup exact|simhash]

Formats (one chunk loop, plans.checkpoint.CheckpointedRun, for both):
* snapshot (default, works everywhere): the parquet snapshot-manifest
  tables in ungoliant_spark.sources.tables — atomic chunk commits,
  resume by rerunning the same command.
* iceberg (requires an Iceberg runtime and catalog on the cluster;
  the tests stub its catalog calls): the same loop over
  sources.tables.CatalogTable — each chunk lands as one Iceberg
  append whose snapshot summary property 'ungoliant.chunk' records
  the chunk id; resume lists committed ids from the snapshot log.

`main` parses, opens the job session and calls `run_job(spark, args)`,
which never touches the session's confs or stops it — so tests and
notebooks call `run_job` in-process on a session of their own.
"""

from __future__ import annotations

import argparse
import csv
import os
import sys

# `python jobs/run_pipeline.py` puts jobs/ (not the repo root) on
# sys.path; make the source checkout importable. On a cluster the
# package arrives via --py-files and this is a no-op.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def parse_blocklist(path: str | None) -> dict[str, str] | None:
    """CSV file of term,category — or a UT1-format blocklist directory
    (one subdir per category with domains/urls/expressions files), the
    layout the reference consumes (content_detector.rs:26-64)."""
    if not path:
        return None
    if os.path.isdir(path):
        from ungoliant_spark.operators.blocklist import load_ut1_dir

        return load_ut1_dir(path)
    with open(path, newline="", encoding="utf-8") as f:
        return {row[0]: row[1] for row in csv.reader(f) if len(row) >= 2}


def kept_fingerprints_or_none(kept_df):
    """(clip_id, afp) from an audio-gated kept table, or None when the
    run was not gated. An --audio-gate run persists the acoustic
    fingerprint computed inside the gate's decode pass as a kept-row
    column, so every follow-on acoustic pass over the same table can
    skip the decode entirely (round-6 verdict item 3: at 100 TB the
    duplicated decode was the single biggest avoidable cost in the
    composed job). Gated rows all passed decode_ok, so afp is non-null
    by construction; the filter is defensive."""
    if "afp" not in kept_df.columns:
        return None
    from pyspark.sql import functions as F

    return kept_df.filter(F.col("afp").isNotNull()).select(
        "clip_id", "afp"
    )


def build_audio_dedup(kept_df):
    """The --audio-dedup pass plan: acoustic near-dup components over
    the kept table, reusing gate-pass fingerprints when present (the
    returned plan then contains NO Python decode stage — asserted in
    tests/test_job_cli.py)."""
    from ungoliant_spark.operators.audio_ops import audio_dup_components

    fp = kept_fingerprints_or_none(kept_df)
    if fp is not None:
        return audio_dup_components(fingerprints=fp)
    return audio_dup_components(kept_df)


def build_audio_dedup_against(kept_df, ref_fp):
    """The --ref-fingerprints pass plan: kept clips flagged against a
    committed reference fingerprint table; neither side re-decodes
    when the kept table carries gate-pass fingerprints."""
    from ungoliant_spark.operators.audio_ops import audio_dedup_against

    fp = kept_fingerprints_or_none(kept_df)
    if fp is not None:
        return audio_dedup_against(
            new_fingerprints=fp, ref_fingerprints=ref_fp
        )
    return audio_dedup_against(kept_df, ref_fingerprints=ref_fp)


def build_vad(kept_df):
    """The --vad pass plan: voice-activity signals over the kept
    table. An audio-gated run persisted the per-clip frame energies
    from the gate's decode pass, so the fold runs as pure Catalyst
    over that column — NO decode stage in the plan (asserted in
    tests); ungated kept tables decode in-line. Gated kept rows all
    passed the gate, so decode_ok is constant true on that path."""
    from pyspark.sql import functions as F

    from ungoliant_spark.operators.audio_ops import audio_vad

    if "frame_energy" in kept_df.columns:
        return audio_vad(
            stats=kept_df.select(
                "clip_id",
                F.lit(True).alias("decode_ok"),
                "frame_energy",
            )
        )
    return audio_vad(kept_df)


def read_fingerprint_table(spark, path: str):
    """Load a committed (clip_id, afp) fingerprint table: a
    SnapshotTable root (read via its manifest), a parquet path, or a
    catalog identifier. Any table carrying clip_id + afp columns
    works — e.g. a previous audio-gated run's kept table."""
    from ungoliant_spark.plans.checkpoint import manifest_files

    if "/" in path:
        files = manifest_files(path)
        df = (
            spark.read.parquet(*files)
            if files is not None
            else spark.read.parquet(path)
        )
    else:
        df = spark.read.table(path)
    if "afp" not in df.columns:
        raise ValueError(
            f"--ref-fingerprints table '{path}' has no afp column; "
            "pass an audio-gated kept table or an audio_stats snapshot"
        )
    from pyspark.sql import functions as F

    return df.filter(F.col("afp").isNotNull()).select("clip_id", "afp")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="parquet path or iceberg table")
    p.add_argument("--output", required=True, help="output root / table prefix")
    p.add_argument("--chunks", type=int, default=64)
    p.add_argument("--partitions", type=int, default=None)
    p.add_argument("--blocklist", default=None,
                   help="term,category csv OR a UT1-format directory")
    p.add_argument("--format", choices=["snapshot", "iceberg"], default="snapshot")
    p.add_argument("--jsonl-out", default=None,
                   help="also package kept rows as per-lang gzip JSONL "
                        "(the reference's LangFilesDoc output format)")
    p.add_argument("--dedup", choices=["exact", "simhash", "minhash"],
                   default=None,
                   help="follow-on cross-chunk dedup pass over the "
                        "committed kept table: writes a clip_id->rep "
                        "mapping (exact: rep_id+cluster_size of the "
                        "exact-dup cluster; simhash: component_rep of "
                        "the Hamming<=3 near-dup graph; minhash: "
                        "component_rep of the Jaccard>=0.5 MinHash-LSH "
                        "graph) computed on the scrubbed transcript")
    p.add_argument("--strip-boilerplate", type=float, default=None,
                   metavar="FRAC",
                   help="follow-on pass over the committed kept table: "
                        "drop transcript lines whose distinct-clip "
                        "frequency exceeds FRAC of kept clips "
                        "(C4-style boilerplate) and write clip_id -> "
                        "cleaned transcript + n_boilerplate_lines")
    p.add_argument("--decontam", default=None, metavar="BENCH",
                   help="follow-on benchmark-decontamination pass over "
                        "the committed kept table: BENCH is a parquet "
                        "file/dir with a 'text' column or a plain text "
                        "file (one benchmark doc per line); writes "
                        "clip_id -> (n_overlap_ngrams, contaminated)")
    p.add_argument("--decontam-ngram", type=int, default=13,
                   metavar="N",
                   help="n-gram size for --decontam (default 13, the "
                        "published-pipeline convention)")
    p.add_argument("--rate-gate", action="store_true",
                   help="also gate on cross-modal speech rate: keep "
                        "requires tokens-per-second within the "
                        "plausible human-speech band (audio_ops."
                        "MIN_TPS..MAX_TPS over the raw transcript and "
                        "stored duration); rate_implausible joins "
                        "quality_warnings")
    p.add_argument("--audio-gate", action="store_true",
                   help="also gate on the AUDIO side (decode-based "
                        "silence/clipping checks, operators/audio_ops."
                        "audio_quality): keep requires audio_keep, and "
                        "audio drop reasons join quality_warnings")
    p.add_argument("--repetition", action="store_true",
                   help="follow-on pass over the committed kept table: "
                        "write clip_id -> Gopher-style repetition "
                        "signals (dup{n}_frac / top{n}_char_frac)")
    p.add_argument("--speech-rate", action="store_true",
                   help="follow-on pass over the committed kept table: "
                        "write clip_id -> cross-modal tokens-per-second "
                        "sanity signals (operators/audio_ops.speech_rate)")
    p.add_argument("--vad", action="store_true",
                   help="follow-on pass over the committed kept table: "
                        "write clip_id -> voice-activity signals "
                        "(operators/audio_ops.audio_vad)")
    p.add_argument("--audio-dedup", action="store_true",
                   help="follow-on pass over the committed kept table: "
                        "write clip_id -> component_rep acoustic "
                        "near-dup clusters (63-bit fingerprint, "
                        "operators/audio_ops.audio_dup_components) — "
                        "catches re-uploaded audio whose transcript "
                        "differs, which --dedup (text-side) cannot. "
                        "When the run was audio-gated the kept rows "
                        "already carry their fingerprint from the "
                        "gate's decode pass and NO audio is re-decoded")
    p.add_argument("--ref-fingerprints", default=None, metavar="PATH",
                   help="follow-on cross-corpus acoustic dedup over the "
                        "committed kept table: PATH is a committed "
                        "(clip_id, afp) fingerprint table (e.g. a "
                        "previous --audio-gate run's kept table, or any "
                        "audio_stats snapshot) — the reference corpus "
                        "is never re-decoded; writes clip_id -> "
                        "(dup_of_ref, hamming, is_dup)")
    return p.parse_args(argv)


def run_job(spark, args: argparse.Namespace) -> None:
    """The job body on ``spark``: the chunked run into the snapshot or
    catalog sink, then the follow-on passes over its committed kept
    table."""
    from ungoliant_spark.plans.checkpoint import (
        CheckpointedRun,
        manifest_files,
    )

    # SnapshotTable-root inputs are read from their manifest: the
    # committed file list plans file-range chunks metadata-only (the
    # Iceberg-manifest analog), with no plan introspection
    in_manifest = (
        manifest_files(args.input) if "/" in args.input else None
    )
    if in_manifest is not None:
        clips = spark.read.parquet(*in_manifest)
    elif "/" in args.input or args.input.endswith(".parquet"):
        clips = spark.read.parquet(args.input)
    else:
        clips = spark.read.table(args.input)

    run = (
        CheckpointedRun(args.output)
        if args.format == "snapshot"
        else CheckpointedRun.on_catalog(spark, args.output)
    )
    committed = run.run(
        clips,
        args.chunks,
        parse_blocklist(args.blocklist),
        n_partitions=args.partitions,
        files=in_manifest,
        audio_gate=args.audio_gate,
        rate_gate=args.rate_gate,
    )
    print(f"committed {len(committed)} new chunks -> {args.output}")

    def write_aux(df, name: str) -> str:
        """Land a follow-on pass result (pure function of the kept
        table, atomically overwritten on re-runs — same contract as
        --dedup)."""
        if args.format == "snapshot":
            aux_out = os.path.join(args.output, name)
            df.write.mode("overwrite").parquet(aux_out)
        else:
            aux_out = f"{args.output}_{name}"
            df.writeTo(aux_out).createOrReplace()
        return aux_out

    if args.jsonl_out:
        # packaging step (reference: packing kept docs into per-lang
        # gzip JSONL files): read the committed kept table and fan out
        # by language in ONE parallel write
        from ungoliant_spark.sources.jsonl import write_jsonl_by_lang

        write_jsonl_by_lang(run.kept.read(spark), args.jsonl_out)
        print(f"packaged jsonl -> {args.jsonl_out}")
    if args.dedup:
        # Dedup is CROSS-CHUNK by nature (a dup cluster spans chunks),
        # so it cannot live inside the resumable chunk loop — it runs
        # as a follow-on pass over the fully-committed kept table,
        # the same two-pass shape as --jsonl-out. The mapping is a
        # pure function of the kept table, so a resumed/re-run job
        # recomputes and atomically overwrites the same result —
        # resume safety comes from the kept table's chunk commits,
        # not from checkpointing this pass. Reference analog: TLSH is
        # stored per doc for downstream near-dedup
        # (/root/reference/src/transformers/lsh.rs:10-51) — this is
        # that downstream, Spark-first. Column pruning keeps the
        # multi-KB audio `bytes` column out of both passes' scans
        # (only clip_id + transcript are read).
        from ungoliant_spark.operators.dedup import (
            exact_dedup_reps,
            group_cache_scope,
            minhash_components,
            simhash_components,
        )

        kept_df = run.kept.read(spark)
        with group_cache_scope():
            if args.dedup == "exact":
                ded = exact_dedup_reps(
                    kept_df, id_col="clip_id", text_col="transcript"
                )
            elif args.dedup == "minhash":
                ded = minhash_components(
                    kept_df, id_col="clip_id", text_col="transcript"
                )
            else:
                ded = simhash_components(
                    kept_df, id_col="clip_id", text_col="transcript"
                )
            dedup_out = write_aux(ded, "dedup")
        print(f"dedup ({args.dedup}) mapping -> {dedup_out}")
    # `is not None`, not truthiness: an explicit --strip-boilerplate
    # 0.0 must reach remove_frequent_lines and fail its range check
    # loudly instead of silently skipping the pass (ADVICE r5)
    if args.strip_boilerplate is not None:
        # same two-pass shape as --dedup: line frequency is a corpus-
        # level statistic, so it can only be computed over the FULLY
        # committed kept table; the cleaned-transcript mapping is a
        # pure function of that table and is atomically overwritten
        # on re-runs. The kept rows themselves are never mutated —
        # rebuild/lineage stay valid; consumers join the mapping.
        from pyspark.sql import functions as F

        from ungoliant_spark.operators.boilerplate import (
            remove_frequent_lines,
        )
        from ungoliant_spark.operators.dedup import group_cache_scope

        lined = run.kept.read(spark).select(
            "clip_id", F.split(F.col("transcript"), "\n").alias("lines")
        )
        with group_cache_scope():
            cleaned = remove_frequent_lines(
                lined, args.strip_boilerplate
            ).select(
                "clip_id",
                F.array_join("lines", "\n").alias("transcript_clean"),
                "n_boilerplate_lines",
            )
            bp_out = write_aux(cleaned, "boilerplate")
        print(f"boilerplate-stripped transcripts -> {bp_out}")
    if args.decontam:
        # same follow-on shape as --dedup (cross-chunk by nature: the
        # contamination decision needs no chunk state, but running it
        # once over the committed table keeps one benchmark broadcast
        # instead of per-chunk re-broadcasts). Benchmark side is tiny
        # → distinct-gram broadcast inside flag_contaminated; the kept
        # table is never shuffled on the gram key. Column pruning
        # keeps audio `bytes` out of the scan.
        from ungoliant_spark.operators.decontam import flag_contaminated

        if args.decontam.endswith(".parquet") or os.path.isdir(args.decontam):
            bench = spark.read.parquet(args.decontam)
        else:
            bench = spark.read.text(args.decontam).withColumnRenamed(
                "value", "text"
            )
        flags = flag_contaminated(
            run.kept.read(spark),
            bench,
            n=args.decontam_ngram,
            id_col="clip_id",
            text_col="transcript",
            bench_text_col="text",
        )
        dc_out = write_aux(flags, "decontam")
        print(f"decontamination flags (n={args.decontam_ngram}) -> {dc_out}")
    if args.repetition:
        # Gopher repetition signals over the committed kept table —
        # the quality-analysis companion to --decontam; explode-once +
        # partial-aggregable groupBys (operators/repetition.py)
        from ungoliant_spark.operators.repetition import (
            repetition_signals,
        )

        sig = repetition_signals(
            run.kept.read(spark), id_col="clip_id", text_col="transcript"
        )
        rp_out = write_aux(sig, "repetition")
        print(f"repetition signals -> {rp_out}")
    if args.speech_rate:
        # pure Catalyst over (transcript, dur_ms) — the scan prunes
        # the audio bytes, so this pass is metadata-cheap
        from ungoliant_spark.operators.audio_ops import speech_rate

        sr_out = write_aux(speech_rate(run.kept.read(spark)), "speech_rate")
        print(f"speech-rate signals -> {sr_out}")
    if args.vad:
        vad_out = write_aux(build_vad(run.kept.read(spark)), "vad")
        print(f"vad signals -> {vad_out}")
    if args.audio_dedup:
        # acoustic-side twin of --dedup: cross-chunk by nature, pure
        # function of the kept table, atomically overwritten on
        # re-runs. The component mapping is rep-level
        # (dedup.hamming_components), no clip-pair list in the plan;
        # audio-gated kept tables are never re-decoded (see
        # kept_fingerprints_or_none).
        from ungoliant_spark.operators.dedup import group_cache_scope

        with group_cache_scope():
            comp = build_audio_dedup(run.kept.read(spark))
            ad_out = write_aux(comp, "audio_dedup")
        print(f"audio dedup mapping -> {ad_out}")
    if args.ref_fingerprints:
        # recurring "new crawl vs committed snapshot" acoustic pass:
        # the reference side is ALWAYS a precomputed fingerprint
        # table (that is the point of the flag), and the new side
        # reuses the kept table's gate-pass fingerprints when present
        # — a run with --audio-gate + --ref-fingerprints decodes each
        # kept clip exactly once, inside the gate.
        from ungoliant_spark.operators.dedup import group_cache_scope

        ref_fp = read_fingerprint_table(spark, args.ref_fingerprints)
        with group_cache_scope():
            res = build_audio_dedup_against(run.kept.read(spark), ref_fp)
            ada_out = write_aux(res, "audio_dedup_against")
        print(f"audio cross-corpus dedup -> {ada_out}")


def main(argv: list[str] | None = None) -> int:
    from ungoliant_spark.session import job_session

    args = parse_args(argv)
    spark = job_session("ungoliant-pipeline")
    run_job(spark, args)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
