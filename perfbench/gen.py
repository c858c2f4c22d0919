"""Seeded benchmark inputs, cached per (workload, seed).

Every row comes from ``fixtures.make_row`` driven by a
``random.Random`` seeded from the seed (one stream per clips shard, so
shards are generated in parallel), so the same seed always gives the
same files. Inputs are written once per (workload, seed, GEN_VERSION)
under the cache root and reused by later runs; the cache keeps the
KEEP_CACHED most recently used seeds of each workload. Generation never
overlaps a timed region.

Oracle labels are ``fixtures.label_row``'s ``keep`` and
``scrubbed_transcript`` fields (see :func:`oracle_label`).
"""

from __future__ import annotations

import glob
import json
import multiprocessing
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ungoliant_spark import oracle
from ungoliant_spark.operators.lid import identify_doc
from ungoliant_spark.sources import fixtures
from ungoliant_spark.sources.audio import encode

# bump whenever generated content changes: stale caches are never read
GEN_VERSION = 3
KEEP_CACHED = 3

# filter_batch: long audio (~66 KB/row, multi-MB clips at i % 997 == 0)
BATCH_ROWS = 4000
BATCH_SHARDS = 16
# filter_stream: short audio (~8.5 KB/row), one file per micro-batch
STREAM_FILES = 44
STREAM_ROWS_PER_FILE = 20
# dedup_followon: kept-shaped table with planted duplicate groups,
# DEDUP_ROWS rows whatever the seed draws: most of a round's time does
# not grow with its rows, so rows per second would follow the count
DEDUP_ROWS = 2100
DEDUP_SHARDS = 8
TEXT_CLUSTERS = 40
HOT_GROUP_ROWS = 240
DEAD_AIR_ROWS = 30
UNDECODABLE_ROWS = 3

LABEL_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("keep", pa.bool_()),
        ("scrubbed_transcript", pa.string()),
    ]
)
KEPT_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("lang_bucket", pa.string()),
    ]
)
HOT_TEMPLATE = (
    "thank you for calling the customer service line of the regional "
    "water utility, all of our agents are currently busy helping other "
    "customers, please stay on the line and your call will be answered "
    "in the order it was received, your reference number is"
)


def oracle_label(clip_id: str, transcript: str) -> dict:
    """``fixtures.label_row``'s ``keep`` and ``scrubbed_transcript``,
    computed by the same oracle calls in the same order. label_row also
    hashes (TLSH) and scores (ARPA) every kept row one at a time, about
    35 ms a row, which no check here reads; a unit test pins this
    function to label_row on fixture rows."""
    h = oracle.heuristic_pipeline(transcript)
    keep = False
    if h.trim_keep and h.pfilter_keep:
        kept = oracle.rust_lines(transcript)[h.line_start : h.line_end + 1]
        lang = identify_doc(kept)[0]
        keep = lang is not None and h.annotation_keep
    return {
        "clip_id": clip_id,
        "keep": keep,
        "scrubbed_transcript": oracle.scrub(h.content) if keep else None,
    }


def _rows(rng: random.Random, start: int, n: int, small_audio: bool) -> list[dict]:
    rows, prev = [], None
    for i in range(start, start + n):
        row = fixtures.make_row(i, rng, small_audio, prev)
        prev = (row["sr_hz"], row["dur_ms"])
        rows.append(row)
    return rows


def _write_shard(rows: list[dict], path: str, schema) -> None:
    pq.write_table(
        pa.Table.from_pylist(rows, schema=schema),
        path,
        compression="zstd",
        row_group_size=256,
    )


def _write_shards(rows: list[dict], out_dir: str, n_shards: int, schema) -> list[str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = -(-len(rows) // n_shards)
    for k in range(n_shards):
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        _write_shard(rows[k * per : (k + 1) * per], path, schema)
        paths.append(path)
    return paths


def _clip_shard(seed: int, shard: int, start: int, n: int, small_audio: bool, path: str) -> list[dict]:
    """Rows ``start`` .. ``start + n - 1`` from the shard's own stream,
    written to ``path``; returns their oracle labels."""
    rows = _rows(random.Random(seed * 100_003 + shard), start, n, small_audio)
    _write_shard(rows, path, fixtures.CLIPS_SCHEMA)
    return [oracle_label(r["clip_id"], r["transcript"]) for r in rows]


def _load(cache_root: str, workload: str, seed: int, build) -> dict:
    """The manifest of the cached inputs for (workload, seed), built
    first when missing, with its relative paths made absolute. Builds
    go to a temp directory renamed into place, so a run killed
    mid-generation never leaves a directory that looks done."""
    root = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}")
    manifest = os.path.join(root, "manifest.json")
    if not os.path.exists(manifest):
        tmp = root + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w", encoding="utf-8") as f:
            json.dump(build(tmp), f)
        shutil.rmtree(root, ignore_errors=True)
        os.replace(tmp, root)
    os.utime(manifest)
    _evict(cache_root, workload)
    with open(manifest, encoding="utf-8") as f:
        info = json.load(f)
    info["dir"] = os.path.join(root, info["dir"])
    info["files"] = [os.path.join(root, p) for p in info["files"]]
    if "labels" in info:
        info["labels"] = os.path.join(root, info["labels"])
    return info


def _evict(cache_root: str, workload: str) -> None:
    """Delete all but the KEEP_CACHED most recently used inputs of
    ``workload``, and those of older generator versions."""
    roots = glob.glob(os.path.join(cache_root, f"{workload}-s*"))
    current = [r for r in roots if r.endswith(f"-v{GEN_VERSION}")]
    current.sort(key=lambda r: os.path.getmtime(os.path.join(r, "manifest.json")), reverse=True)
    for r in set(roots) - set(current[:KEEP_CACHED]):
        shutil.rmtree(r, ignore_errors=True)


def _clips_inputs(cache_root, workload, seed, n_rows, n_shards, small_audio) -> dict:
    def build(tmp: str) -> dict:
        out = os.path.join(tmp, "clips")
        os.makedirs(out)
        per = -(-n_rows // n_shards)
        jobs = [
            (seed, k, k * per, min(per, n_rows - k * per), small_audio, os.path.join(out, f"part-{k:05d}.parquet"))
            for k in range(n_shards)
        ]
        pool = multiprocessing.get_context("fork").Pool(min(n_shards, len(os.sched_getaffinity(0))))
        try:
            labels = [label for shard in pool.starmap(_clip_shard, jobs) for label in shard]
        finally:
            pool.close()
            pool.join()
        files = [job[-1] for job in jobs]
        pq.write_table(pa.Table.from_pylist(labels, schema=LABEL_SCHEMA), os.path.join(tmp, "labels.parquet"))
        return {
            "dir": "clips",
            "files": [os.path.relpath(p, tmp) for p in files],
            "labels": "labels.parquet",
            "rows": len(labels),
            "input_bytes": sum(os.path.getsize(p) for p in files),
        }

    return _load(cache_root, workload, seed, build)


def filter_batch_inputs(cache_root: str, seed: int) -> dict:
    """Long-audio clips as BATCH_SHARDS parquet shards plus labels."""
    return _clips_inputs(cache_root, "filter_batch", seed, BATCH_ROWS, BATCH_SHARDS, False)


def filter_stream_inputs(cache_root: str, seed: int) -> dict:
    """Short-audio clips pre-landed as STREAM_FILES backlog files."""
    return _clips_inputs(
        cache_root, "filter_stream", seed, STREAM_FILES * STREAM_ROWS_PER_FILE, STREAM_FILES, True
    )


def _cluster_sizes(rng: random.Random, n: int) -> list[int]:
    """Skewed near-dup cluster sizes: most are pairs, a few reach 40."""
    return [min(40, 1 + int(rng.paretovariate(1.2))) + 1 for _ in range(n)]


def _edit(rng: random.Random, text: str) -> str:
    """A near-duplicate: case change (normalizes to the same text) or
    one word replaced."""
    if rng.random() < 0.5:
        return text.upper()
    words = text.split(" ")
    words[rng.randrange(len(words))] = "variant"
    return " ".join(words)


def plant_dedup_rows(seed: int) -> tuple[list[dict], dict]:
    """Base rows (whose ``fixtures.is_dup_row`` audio re-uploads are
    planted by make_row) plus planted text clusters, one hot template
    group, one dead-air group sharing afp 0, and a few clips with a
    codec the decoder lacks. Returns (rows, planted groups as id
    lists keyed by family)."""
    rng = random.Random(seed)
    sizes = _cluster_sizes(rng, TEXT_CLUSTERS)
    n_base = DEDUP_ROWS - sum(s - 1 for s in sizes) - HOT_GROUP_ROWS - DEAD_AIR_ROWS - UNDECODABLE_ROWS
    rows = _rows(rng, 0, n_base, small_audio=True)
    n = len(rows)
    groups: dict[str, list[list[str]]] = {"text": [], "audio": []}
    for i in range(1, n_base):
        if fixtures.is_dup_row(i):
            groups["audio"].append([rows[i - 1]["clip_id"], rows[i]["clip_id"]])

    def extra(transcript: str, **audio) -> dict:
        nonlocal n
        row = fixtures.make_row(n, rng, True)
        row.update(transcript=transcript, **audio)
        n += 1
        rows.append(row)
        return row

    bases = rng.sample(range(n_base), TEXT_CLUSTERS)
    for b, size in zip(bases, sizes):
        base = rows[b]
        members = [extra(_edit(rng, base["transcript"])) for _ in range(size - 1)]
        groups["text"].append([base["clip_id"]] + [m["clip_id"] for m in members])
    hot = [extra(f"{HOT_TEMPLATE} {rng.randrange(10**6):06d}") for _ in range(HOT_GROUP_ROWS)]
    groups["text"].append([r["clip_id"] for r in hot])
    dead = []
    for _ in range(DEAD_AIR_ROWS):
        sr = rng.choice([8000, 16000])
        dur = rng.randint(150, 400)
        codec = rng.choice(["pcm_s16le", "wav"])
        pcm = np.zeros(sr * dur // 1000, dtype="<i2")
        dead.append(extra(rows[rng.randrange(n_base)]["transcript"],
                          bytes=encode(pcm, sr, codec), sr_hz=sr, dur_ms=dur, codec=codec))
    groups["audio"].append([r["clip_id"] for r in dead])
    for _ in range(UNDECODABLE_ROWS):
        extra(rows[rng.randrange(n_base)]["transcript"], codec="flac")
    rng.shuffle(rows)
    for r in rows:
        r["lang_bucket"] = "en"
        r.pop("case_class", None)
    return rows, groups


def dedup_inputs(cache_root: str, seed: int) -> dict:
    def build(tmp: str) -> dict:
        rows, groups = plant_dedup_rows(seed)
        files = _write_shards(rows, os.path.join(tmp, "kept"), DEDUP_SHARDS, KEPT_SCHEMA)
        return {
            "dir": "kept",
            "files": [os.path.relpath(p, tmp) for p in files],
            "rows": len(rows),
            "input_bytes": sum(os.path.getsize(p) for p in files),
            "groups": groups,
            "undecodable": UNDECODABLE_ROWS,
        }

    return _load(cache_root, "dedup_followon", seed, build)


INPUTS = {
    "filter_batch": filter_batch_inputs,
    "filter_stream": filter_stream_inputs,
    "dedup_followon": dedup_inputs,
}
