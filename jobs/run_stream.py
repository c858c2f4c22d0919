"""Streaming-ingest job CLI: the spark-submit entrypoint for the
Structured Streaming operators (job reachability for the streaming
family, mirroring jobs/run_pipeline.py for the batch passes).

    spark-submit --py-files ungoliant_spark.zip jobs/run_stream.py \
        --mode quality --input <dir-of-clip-parquet-files> \
        --output <kept-dir> --checkpoint <ckpt-dir> \
        [--blocklist terms.csv|ut1-dir] [--max-files-per-trigger 4] \
        [--available-now]

Modes:

* ``quality`` — the online keep/scrub gate: every arriving clip file
  runs the same run() plan as the batch pipeline (heuristics → one
  fused LID + TLSH + perplexity node → blocklist → scrub), and kept
  rows append the batch sink's columns to a lang_bucket-partitioned
  parquet sink. Restart-safe via the stream checkpoint (exactly-once
  file-source progress).
* ``dedup`` — watermark-bounded EXACT transcript dedup on ingest
  (dropDuplicatesWithinWatermark on the portable content hash): the
  first copy passes, same-horizon recrawl copies are dropped.
* ``audio-dedup`` — the acoustic twin: decode + 63-bit fingerprint
  inside the stream's Arrow node, first clip per afp word passes
  (re-uploads drop even when re-encoded into another container);
  undecodable clips pass through one-per-clip.

``--available-now`` drains everything currently in the input dir and
exits (bounded run — the batch-equivalent invocation used by tests
and backfills); without it the query runs until interrupted.

The dedup modes require an event-time column (``--ts-col``, default
``ingest_ts``) in the input schema; ``--watermark`` bounds their
state (late re-uploads past the horizon re-admit and are swept by the
batch dedup passes)."""

from __future__ import annotations

import argparse
import os
import sys

# `python jobs/run_stream.py` puts jobs/ (not the repo root) on
# sys.path; make the source checkout importable. On a cluster the
# package arrives via --py-files and this is a no-op.
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)


def _write_progress(q, out_dir: str, mode: str) -> None:
    """Persist the run's per-batch progress next to the sink as
    ``_stream_progress.json`` (underscore prefix: parquet readers
    treat it as hidden) — rows in/out per micro-batch plus state-store
    size for the dedup modes, the numbers an operator needs to size
    watermark horizons and spot a stalled source without a UI."""
    import json

    batches = q.recentProgress or []
    summary = {
        "mode": mode,
        "batches": len(batches),
        "input_rows": sum(
            int(b.get("numInputRows", 0)) for b in batches
        ),
        "state_rows_last": (
            batches[-1]["stateOperators"][0]["numRowsTotal"]
            if batches and batches[-1].get("stateOperators")
            else None
        ),
        "progress": batches,
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_stream_progress.json"), "w") as f:
        # progress dicts carry UUID/timestamp objects — stringify
        json.dump(summary, f, indent=1, default=str)
    print(
        f"stream {mode}: {summary['batches']} batches, "
        f"{summary['input_rows']} input rows"
        + (
            f", {summary['state_rows_last']} state rows"
            if summary["state_rows_last"] is not None
            else ""
        )
    )


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--mode", required=True,
                   choices=["quality", "dedup", "audio-dedup"])
    p.add_argument("--input", required=True,
                   help="directory Structured Streaming watches for "
                        "clip parquet files")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--blocklist", default=None,
                   help="terms.csv or UT1 blocklist dir (quality mode)")
    p.add_argument("--max-files-per-trigger", type=int, default=1)
    p.add_argument("--watermark", default="1 hour")
    p.add_argument("--ts-col", default="ingest_ts")
    p.add_argument("--available-now", action="store_true")
    p.add_argument("--timeout-sec", type=float, default=None,
                   help="stop the query after N seconds (smoke runs)")
    return p.parse_args(argv)


def run_job(spark, args: argparse.Namespace) -> None:
    """The stream on ``spark`` until it drains, times out or ends; the
    session's confs and lifetime stay the caller's."""
    from jobs.run_pipeline import parse_blocklist
    from ungoliant_spark.streaming.quality_stream import (
        stream_audio_dedup,
        stream_exact_dedup,
        stream_quality_filter,
    )

    try:
        if args.mode == "quality":
            q = stream_quality_filter(
                spark,
                args.input,
                args.output,
                args.checkpoint,
                term_to_category=parse_blocklist(args.blocklist),
                max_files_per_trigger=args.max_files_per_trigger,
            )
        elif args.mode == "dedup":
            q = stream_exact_dedup(
                spark,
                args.input,
                args.output,
                args.checkpoint,
                watermark_delay=args.watermark,
                ts_col=args.ts_col,
                max_files_per_trigger=args.max_files_per_trigger,
                available_now=args.available_now,
            )
        else:
            q = stream_audio_dedup(
                spark,
                args.input,
                args.output,
                args.checkpoint,
                watermark_delay=args.watermark,
                ts_col=args.ts_col,
                max_files_per_trigger=args.max_files_per_trigger,
                available_now=args.available_now,
            )
        if args.available_now and args.mode == "quality":
            # quality mode has no availableNow plumbing in the helper:
            # drain what exists, then stop (same bounded semantics)
            q.processAllAvailable()
            q.stop()
        elif args.available_now:
            q.awaitTermination()
        elif args.timeout_sec is not None:
            if not q.awaitTermination(args.timeout_sec):
                q.stop()
        else:
            q.awaitTermination()
        print(f"stream {args.mode}: committed -> {args.output}")
    finally:
        # progress lands even when a continuous run is interrupted or
        # fails — the long-running case the docstring promises it for
        # (ADVICE r7: it was only written on clean termination)
        try:
            _write_progress(q, args.output, args.mode)
        except Exception:
            pass


def main(argv: list[str] | None = None) -> int:
    from ungoliant_spark.session import job_session

    args = parse_args(argv)
    spark = job_session("ungoliant-stream")
    try:
        run_job(spark, args)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
