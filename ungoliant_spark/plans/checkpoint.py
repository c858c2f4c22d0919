"""Resumable chunked pipeline runs: lineage + metrics + kept sinks
with snapshot checkpointing.

Replaces the reference's file-level idempotence (one output file per
shard; rerun skips existing files) with table-level snapshot commits
(SURVEY.md §4): the input is split into deterministic chunks, each
chunk is processed by one Spark job and committed as one atomic
snapshot append to three tables (kept / lineage / metrics); resuming
diffs the desired chunk set against the snapshot summary.

Chunking strategy (round-2 verdict item 1): chunks are FILE RANGES of
the input whenever the input is a plain file scan — chunk k re-reads
only its assigned file subset, so a 64-chunk run over 100 TB scans
each byte ONCE (the reference's shard = file = unit of parallelism,
/root/reference/src/sources/commoncrawl/shard.rs:21-48). The previous
``pmod(xxhash64(clip_id), n) == k`` predicate can never be pushed to
the parquet/Iceberg scan, so every chunk re-read the FULL input —
6.4 PB of scan for a 64-chunk run. Hash chunking remains only as the
fallback for unsplittable inputs (fewer files than chunks, or a
DataFrame with transformations the re-read could not reproduce).

Lineage rows are the ShardResult equivalent (/root/reference/src/
pipelines/oscardoc/types/rebuild.rs:104-213): one row per kept doc
with (chunk_id, shard_id = spark task partition, record_id = clip_id,
line_start/line_end inclusive, loc_in_shard), written sorted by
loc_in_shard within partitions (rebuild.rs:194-198).
"""

from __future__ import annotations

import json
import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ungoliant_spark.plans.pipeline import run as pipeline_run
from ungoliant_spark.sources.tables import CatalogTable, SnapshotTable


def chunk_filter(df: DataFrame, chunk: int, n_chunks: int) -> DataFrame:
    """Deterministic hash-range chunking on the primary key — the
    UNSPLITTABLE-INPUT FALLBACK only: the predicate is not pushable,
    so every chunk scans the full input. Prefer file-range chunks
    (:func:`plan_chunks`) whenever the input is file-backed."""
    return df.filter(
        F.pmod(F.xxhash64(F.col("clip_id")), F.lit(n_chunks)) == F.lit(chunk)
    )


def scan_files(df: DataFrame) -> list[str] | None:
    """The input files of ``df`` IF it is a bare file scan whose
    re-read is provably equivalent — i.e. the analyzed plan is a leaf
    (no filters/projections that a per-file re-read would drop) and a
    single file carries the full schema (partition-directory columns
    would vanish on a direct file read, so those fall back). Returns
    None when file-range chunking would not be faithful.

    Deliberately restricted to v1 file relations: a DSv2 relation
    (e.g. a real Iceberg table) also reports inputFiles, but re-reading
    its raw parquet bypasses position/equality delete files and schema
    evolution. The production-Iceberg analog of this optimization is
    planning chunks from the snapshot's manifest list (metadata-only,
    same one-scan-total property) — not expressible in this sandbox
    without an Iceberg runtime."""
    try:
        analyzed = df._jdf.queryExecution().analyzed()
        if analyzed.children().size() != 0:
            return None
        if "LogicalRelation" not in analyzed.getClass().getSimpleName():
            return None  # DSv2 (Iceberg etc.): raw re-read unsafe
        files = sorted(df.inputFiles())
        if not files:
            return None
        one = df.sparkSession.read.parquet(files[0])
        if [f.name for f in one.schema] != [f.name for f in df.schema]:
            return None  # partition-dir columns / schema drift
        return files
    except Exception:
        return None


def plan_chunks(
    clips: DataFrame, n_chunks: int, files: list[str] | None = None
) -> tuple[Callable[[int], DataFrame], str, list[str] | None]:
    """Returns (chunk_df, strategy, files): ``chunk_df(k)`` yields the
    k-th chunk's DataFrame.

    * ``files`` strategy — round-robin over the sorted input file list
      (``files[k::n_chunks]``: balanced when name order correlates
      with size/time). Chunk k's scan reads ONLY its files; the whole
      run reads each input byte once. Requires an immutable input
      (crawl shards are), and the file list is persisted by the caller
      so resume uses the original assignment even if listing changes.
    * ``hash`` strategy — the fallback ``chunk_filter`` predicate for
      unsplittable inputs (full rescan per chunk)."""
    if files is None:
        files = scan_files(clips)
    if files is None or len(files) < n_chunks:
        return (
            lambda k: chunk_filter(clips, k, n_chunks),
            "hash",
            None,
        )
    spark = clips.sparkSession
    schema = clips.schema

    def chunk_df(k: int) -> DataFrame:
        subset = files[k::n_chunks]
        return spark.read.schema(schema).parquet(*subset)

    return chunk_df, "files", files


def manifest_files(table_root: str) -> list[str] | None:
    """Committed data files of a SnapshotTable, from its manifest
    JSON only — no DataFrame plan introspection (`scan_files`' private
    JVM API) involved. This is the metadata-only chunk-planning path a
    real Iceberg deployment gets from the snapshot's manifest list:
    chunk k scans only its file subset, one scan of the input total.

    Safe because the emulated table is APPEND-ONLY (no delete files /
    row-level updates, sources/tables.py commit protocol) — re-reading
    its raw parquet is exactly the committed data. A real Iceberg
    table needs the same precondition (no position/equality deletes)
    before raw file-range re-reads are faithful; gate on it there.

    Returns None when ``table_root`` is not a SnapshotTable or has no
    committed snapshot."""
    from ungoliant_spark.sources.tables import SnapshotTable

    latest = os.path.join(table_root, "_snapshots", "LATEST")
    if not os.path.exists(latest):
        return None
    files = SnapshotTable(table_root).files()
    return files or None


def load_or_pin_chunk_plan(
    clips: DataFrame,
    n_chunks: int,
    path: str,
    files: list[str] | None = None,
) -> tuple[Callable[[int], DataFrame], str]:
    """Resolve the chunk→input assignment, pinning it to ``path`` on
    first run so every resume processes IDENTICAL chunks even if the
    input listing changes mid-run (the assignment, not the live
    listing, is the source of truth — the same contract as the
    reference's shard files). ``files``: an explicit (e.g. manifest-
    derived) file list that bypasses plan introspection; the caller
    asserts the input is the bare, untransformed scan of those files.

    Raises on resume mismatches (different n_chunks, input no longer
    a bare file scan, flipped strategy) instead of silently remapping
    chunk ids to different row subsets."""
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            pinned = json.load(f)
        if pinned["n_chunks"] != n_chunks:
            raise ValueError(
                f"resume with n_chunks={n_chunks} but this run was "
                f"started with n_chunks={pinned['n_chunks']} "
                f"({path}); chunk ids would not line up"
            )
        if (
            pinned["strategy"] == "files"
            and files is None
            and scan_files(clips) is None
        ):
            # pinned chunks re-read raw files, which would silently
            # IGNORE any filter/projection on a transformed resume
            # input — reject rather than produce wrong data
            raise ValueError(
                "resume input is not a bare file scan but this run "
                "was chunked by file ranges; pass the same input "
                "table the original run used"
            )
        chunk_df, strategy, _ = plan_chunks(
            clips, n_chunks, files=pinned.get("files")
        )
        if strategy != pinned["strategy"]:
            raise ValueError(
                f"resume resolved chunk strategy {strategy!r} but "
                f"this run was started with {pinned['strategy']!r}"
            )
        return chunk_df, strategy
    chunk_df, strategy, used_files = plan_chunks(clips, n_chunks, files=files)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(
            {"n_chunks": n_chunks, "strategy": strategy, "files": used_files},
            f,
        )
    os.replace(tmp, path)
    return chunk_df, strategy


def aux_path(output: str, name: str) -> str:
    """Where a run's pin file lands. A path-like output gets the file
    inside its directory; a catalog identifier like `cat.db.run` has
    no directory, so the file is named after the identifier in the
    CWD — unique per output, so concurrent jobs with different
    outputs never clobber each other."""
    if "/" in output:
        os.makedirs(output, exist_ok=True)
        return os.path.join(output, name)
    return f"{output}.{name}"


def schema_json_path(output: str) -> str:
    return aux_path(output, "metadata_schema.json")


def chunks_json_path(output: str) -> str:
    return aux_path(output, "chunks.json")


def check_chunk_pin(output: str, committed_any: bool) -> str:
    """ADVICE r4 resume guard, for both sinks: committed chunks with no
    chunk-plan pin must not re-pin a fresh plan — if the input listing
    changed in between, committed chunk ids would map to different row
    subsets (duplicated or dropped rows). For a catalog identifier the
    pin is CWD-relative, so a resume from another working directory is
    exactly this case. Refuses loudly, BEFORE pinning; returns the pin
    path for :func:`load_or_pin_chunk_plan`."""
    pin_path = chunks_json_path(output)
    if not os.path.exists(pin_path) and committed_any:
        raise RuntimeError(
            f"output '{output}' already has committed chunks but no "
            f"pinned chunk plan exists at {pin_path}. For catalog "
            "identifiers the pin is CWD-relative: resume from the "
            "original working directory (or copy its chunks.json "
            "here). Refusing to re-pin a fresh plan over committed "
            "chunks — chunk ids could map to different row subsets."
        )
    return pin_path


def blocklist_hash(term_to_category: dict[str, str] | None) -> str | None:
    """Order-independent content hash of a blocklist, for the run-config
    pin: two runs gate identically iff their (term, category) sets
    match, regardless of CSV row order or dict insertion order."""
    if not term_to_category:
        return None
    import hashlib

    h = hashlib.sha256()
    for t, c in sorted(term_to_category.items()):
        h.update(f"{t}\t{c}\n".encode("utf-8"))
    return h.hexdigest()


def check_or_pin_run_config(
    path: str, config: dict, committed_any: bool
) -> None:
    """Pin the PIPELINE-AFFECTING flags beside the chunk plan and fail
    loudly when a resume disagrees (ADVICE r6): the done-set skip
    reuses committed chunks unconditionally, so resuming a partially-
    committed run with a different --audio-gate value (or a different
    blocklist) would silently produce a kept table MIXING gated and
    ungated chunks — per-chunk decisions would be internally
    consistent but the table as a whole would answer to no single
    configuration. Same discipline as the chunk-plan pin: committed
    chunks with no config pin (an output created before this guard,
    or a catalog-identifier output resumed from the wrong CWD) also
    refuse, because the original flags are unknowable."""
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            pinned = json.load(f)
        if pinned != config:
            diff = {
                k: {"pinned": pinned.get(k), "now": config.get(k)}
                for k in sorted(set(pinned) | set(config))
                if pinned.get(k) != config.get(k)
            }
            raise RuntimeError(
                f"run config mismatch on resume ({path}): {diff}. "
                "Committed chunks were produced under the pinned "
                "flags; finishing the run under different flags would "
                "mix configurations in one kept table. Re-run with "
                "the original flags, or start a fresh --output."
            )
        return
    if committed_any:
        raise RuntimeError(
            f"output has committed chunks but no run-config pin at "
            f"{path}. The flags that produced them are unknowable — "
            "write the pin matching the original run (JSON "
            f"{sorted(config)}) or start a fresh --output."
        )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(config, f, sort_keys=True)


def lineage_of(kept: DataFrame, chunk_id: str) -> DataFrame:
    """One lineage row per kept doc, ``loc_in_shard`` numbering the
    rows of each output partition (``shard_id``) in ``record_id``
    order — shuffle-free: after a sort within the partition,
    ``monotonically_increasing_id`` is (partition id << 33) + the
    row's position, so subtracting the shard's base leaves the
    position, the same number a row_number() window over shard_id
    gives without that window's exchange."""
    return (
        kept.select(
            F.lit(chunk_id).alias("chunk_id"),
            F.spark_partition_id().cast("long").alias("shard_id"),
            F.col("clip_id").alias("record_id"),
            "line_start",
            "line_end",
            "lang_bucket",
        )
        .sortWithinPartitions("record_id")
        .withColumn(
            "loc_in_shard",
            F.monotonically_increasing_id()
            - F.shiftleft(F.col("shard_id"), 33),
        )
    )


def metrics_of(kept: DataFrame, chunk_id: str) -> DataFrame:
    """Per-(chunk, lang) counters — the reference's per-lang doc-count
    logging (pipeline.rs:371) promoted to a real metrics table."""
    return kept.groupBy("lang_bucket").agg(
        F.lit(chunk_id).alias("chunk_id"),
        F.count("*").alias("n_docs"),
        F.sum("dur_ms").alias("sum_dur_ms"),
        F.sum(F.octet_length("bytes")).alias("sum_audio_bytes"),
        F.avg("harmful_pp").alias("avg_harmful_pp"),
        F.sum(F.length("transcript")).alias("sum_transcript_chars"),
    )


class CheckpointedRun:
    """The one chunk loop, for both sinks. Its three tables (``kept``,
    ``lineage``, ``metrics``) share ``SnapshotTable``'s chunk surface:
    snapshot-manifest directories under ``out_root`` here, Iceberg
    catalog tables through :meth:`on_catalog`. The run's pin files
    land by :func:`aux_path`."""

    def __init__(self, out_root: str):
        # absolute, so the pins land inside the output directory
        self.output = os.path.abspath(out_root)
        self.kept = SnapshotTable(f"{out_root}/kept")
        self.lineage = SnapshotTable(f"{out_root}/lineage")
        self.metrics = SnapshotTable(f"{out_root}/metrics")

    @classmethod
    def on_catalog(cls, spark: SparkSession, output: str) -> CheckpointedRun:
        """A run over the catalog tables ``{output}_kept``,
        ``{output}_lineage`` and ``{output}_metrics``."""
        run = cls.__new__(cls)
        run.output = output
        run.kept, run.lineage, run.metrics = (
            CatalogTable(spark, f"{output}_{t}")
            for t in ("kept", "lineage", "metrics")
        )
        return run

    def committed_chunks(self) -> set[str]:
        """A chunk counts as done only when ALL THREE tables have it:
        a crash between the per-table appends must re-run the chunk
        (appends are idempotent), otherwise the chunk's lineage or
        metrics rows would be silently lost forever."""
        return (
            self.kept.committed_chunks()
            & self.lineage.committed_chunks()
            & self.metrics.committed_chunks()
        )

    def run(
        self,
        clips: DataFrame,
        n_chunks: int,
        term_to_category: dict[str, str] | None = None,
        n_partitions: int | None = None,
        fail_after: int | None = None,  # test hook: simulate a crash
        files: list[str] | None = None,  # e.g. manifest_files(input)
        audio_gate: bool = False,
        rate_gate: bool = False,
    ) -> set[str]:
        """Process all not-yet-committed chunks; returns chunk ids
        committed by THIS invocation. Safe to re-run after any crash."""
        per_table = [
            t.committed_chunks() for t in (self.kept, self.lineage, self.metrics)
        ]
        done = set.intersection(*per_table)
        # any table's chunk, a torn one too, was made under the pins
        started = any(per_table)
        check_or_pin_run_config(
            aux_path(self.output, "run_config.json"),
            {
                "audio_gate": audio_gate,
                "rate_gate": rate_gate,
                "terms_hash": blocklist_hash(term_to_category),
            },
            committed_any=started,
        )
        chunk_df, _ = load_or_pin_chunk_plan(
            clips, n_chunks, check_chunk_pin(self.output, started), files
        )
        committed: set[str] = set()
        schema_written = False
        for chunk in range(n_chunks):
            chunk_id = f"chunk-{chunk:05d}"
            if chunk_id in done:
                continue
            if fail_after is not None and len(committed) >= fail_after:
                raise RuntimeError("simulated crash between snapshots")
            part = chunk_df(chunk)
            kept = pipeline_run(
                part, term_to_category, n_partitions,
                audio_gate=audio_gate, rate_gate=rate_gate,
            ).cache()
            try:
                out = kept.drop("sentence_langs")
                if not schema_written:
                    # metadata_schema.json beside the sinks — the
                    # reference writes it post-run (src/main.rs:64-69)
                    path = schema_json_path(self.output)
                    with open(path, "w", encoding="utf-8") as f:
                        f.write(out.schema.json())
                    schema_written = True
                # kept commits LAST: resume keys on the intersection,
                # but ordering side tables first means a torn chunk
                # can never present kept rows without their lineage
                self.lineage.append(lineage_of(kept, chunk_id), chunk_id)
                self.metrics.append(metrics_of(kept, chunk_id), chunk_id)
                self.kept.append(out, chunk_id)
            finally:
                kept.unpersist()
            committed.add(chunk_id)
        return committed


def rebuild(
    lineage: DataFrame, clips: DataFrame, lang: str | None = None
) -> DataFrame:
    """Inverse pipeline (Rebuilder::run, /root/reference/src/
    processing/rebuild.rs:234-305): join lineage against the source
    table on the record id and re-slice the kept line range — the
    reference's seek/verify/re-slice loop as one DataFrame join."""
    from ungoliant_spark.functions.lines import rust_lines

    lin = lineage if lang is None else lineage.filter(
        F.col("lang_bucket") == lang
    )
    joined = lin.join(
        clips.select("clip_id", "transcript"),
        lin.record_id == clips.clip_id,
        "inner",
    )
    lines = rust_lines(F.col("transcript"))
    content = F.array_join(
        F.slice(
            lines,
            F.col("line_start") + 1,
            F.col("line_end") - F.col("line_start") + 1,
        ),
        "\n",
    )
    return joined.select(
        "record_id",
        "chunk_id",
        "shard_id",
        "loc_in_shard",
        "lang_bucket",
        content.alias("content"),
    )
