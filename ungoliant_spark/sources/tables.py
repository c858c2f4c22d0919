"""Snapshot-manifest table layer — Iceberg semantics on plain Parquet.

Production target is an Iceberg catalog (`df.writeTo(tbl).append()`
with snapshot summaries carrying committed chunk ids); this sandbox
has no Iceberg runtime jar (SURVEY.md §7), so this module provides
the same contract on a directory:

    root/
      data/<chunk_id>/part-*.parquet      (immutable once committed)
      _snapshots/v000017.json             (manifest: files + summary)
      _snapshots/LATEST                   (atomic pointer, os.replace)

Commit protocol (single-writer, crash-safe):
  1. stage data files under data/<chunk_id>/ (never listed until
     committed — readers only trust the manifest)
  2. write v{N+1}.json listing prev files + new files, summary
     carrying the full committed-chunk-id set
  3. atomically flip LATEST via os.replace (POSIX rename)

A crash before (3) leaves orphan staged files that are ignored and
re-staged on retry — exactly Iceberg's optimistic append. Resume =
diff desired chunk ids against the snapshot summary, matching the
north_rule "resumable from checkpoint with per-partition lineage".
Manifests store root-relative paths (files and checksums share keys),
so a table directory can be moved or remounted wholesale.

``CatalogTable`` is the real-Iceberg twin with the same chunk surface
(``committed_chunks`` / ``append`` / ``read``), so
``plans.checkpoint.CheckpointedRun`` drives either sink through one
chunk loop (``--format iceberg`` of jobs/run_pipeline.py).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession

# threads hashing a commit's new files: at most the cores this
# process may run on
_HASH_THREADS = min(8, len(os.sched_getaffinity(0)))


def _sha256(path: str) -> str:
    import hashlib

    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


class SnapshotTable:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.snap_dir = os.path.join(self.root, "_snapshots")
        self.data_dir = os.path.join(self.root, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- snapshot bookkeeping ------------------------------------------
    def _latest_path(self) -> str:
        return os.path.join(self.snap_dir, "LATEST")

    def current_snapshot(self) -> dict | None:
        p = self._latest_path()
        if not os.path.exists(p):
            return None
        with open(p) as f:
            name = f.read().strip()
        with open(os.path.join(self.snap_dir, name)) as f:
            return json.load(f)

    def committed_chunks(self) -> set[str]:
        snap = self.current_snapshot()
        return set(snap["summary"]["chunks"]) if snap else set()

    def files(self) -> list[str]:
        """Committed data files as absolute paths (manifests store
        root-relative; absolute entries from pre-v2 manifests pass
        through unchanged)."""
        snap = self.current_snapshot()
        if not snap:
            return []
        return [
            p if os.path.isabs(p) else os.path.join(self.root, p)
            for p in snap["files"]
        ]

    # -- write path ----------------------------------------------------
    def append(self, df: DataFrame, chunk_id: str, **write_opts) -> dict:
        """Stage + commit one chunk atomically. Idempotent: committing
        an already-committed chunk is a no-op (returns the snapshot)."""
        snap = self.current_snapshot()
        if snap and chunk_id in snap["summary"]["chunks"]:
            return snap
        stage = os.path.join(self.data_dir, chunk_id)
        if os.path.exists(stage):  # orphan from a crashed attempt
            shutil.rmtree(stage)
        (df.write.mode("overwrite").options(**write_opts).parquet(stage))
        new_files = sorted(
            glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True)
        )
        # per-file sha256 + size recorded in the manifest — the analog
        # of the reference's packaging checksums (src/processing/
        # package.rs:23-62 writes sha256sum-compatible files per lang);
        # here integrity travels with the snapshot itself. The files
        # are hashed on threads: hashlib releases the GIL on large
        # buffers, so the hashes overlap instead of queueing.
        new_files = [os.path.relpath(p, self.root) for p in new_files]
        paths = [os.path.join(self.root, rel) for rel in new_files]
        with ThreadPoolExecutor(max_workers=_HASH_THREADS) as pool:
            digests = list(pool.map(_sha256, paths))
        checksums = {
            rel: {"sha256": digest, "bytes": os.path.getsize(path)}
            for rel, path, digest in zip(new_files, paths, digests)
        }
        prev_files = snap["files"] if snap else []
        prev_chunks = snap["summary"]["chunks"] if snap else []
        version = (snap["version"] + 1) if snap else 1
        manifest = {
            "version": version,
            "files": prev_files + new_files,
            "summary": {
                "chunks": sorted(set(prev_chunks) | {chunk_id}),
                "committed_at": time.time(),
                "added_files": len(new_files),
            },
            "checksums": {
                **(snap.get("checksums", {}) if snap else {}),
                **checksums,
            },
        }
        name = f"v{version:06d}.json"
        tmp = os.path.join(self.snap_dir, f".{name}.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.snap_dir, name))
        ptr_tmp = os.path.join(self.snap_dir, ".LATEST.tmp")
        with open(ptr_tmp, "w") as f:
            f.write(name)
        os.replace(ptr_tmp, self._latest_path())
        return manifest

    # -- read path -----------------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        files = self.files()
        if not files:
            raise FileNotFoundError(f"no committed snapshot in {self.root}")
        return spark.read.parquet(*files)

    def verify_checksums(self) -> list[str]:
        """Re-hash every committed data file against the manifest;
        returns the list of corrupted/missing files (empty = intact)."""
        snap = self.current_snapshot()
        if not snap:
            return []
        bad = []
        for rel, meta in snap.get("checksums", {}).items():
            p = os.path.join(self.root, rel)
            if not os.path.exists(p) or _sha256(p) != meta["sha256"]:
                bad.append(rel)
        return bad

    def snapshots(self) -> list[dict]:
        out = []
        for p in sorted(glob.glob(os.path.join(self.snap_dir, "v*.json"))):
            with open(p) as f:
                out.append(json.load(f))
        return out


class CatalogTable:
    """An Iceberg catalog table with ``SnapshotTable``'s chunk surface.
    Each chunk lands as one ``writeTo`` snapshot whose summary property
    ``ungoliant.chunk`` records the chunk id; the committed set is read
    from the table's snapshot log once, then maintained in-process
    (single writer, the same contract as ``SnapshotTable.append``)."""

    def __init__(self, spark: SparkSession, name: str):
        self.spark = spark
        self.name = name
        self._committed: set[str] | None = None

    def _exists(self) -> bool:
        # tableExists answers "not found" definitively; a catalog/
        # network failure raises instead of masquerading as absence
        return self.spark.catalog.tableExists(self.name)

    def committed_chunks(self) -> set[str]:
        # Only a genuinely missing table yields the empty set. A
        # transient catalog error on resume must FAIL the job: an empty
        # committed set here would re-append every chunk of the table —
        # silent row duplication (ADVICE r3).
        if self._committed is None:
            rows = (
                self.spark.sql(
                    f"SELECT summary FROM {self.name}.snapshots"
                ).collect()
                if self._exists()
                else []
            )
            self._committed = {
                cid
                for row in rows
                if (cid := dict(row["summary"]).get("ungoliant.chunk"))
            }
        return set(self._committed)

    def append(self, df: DataFrame, chunk_id: str) -> None:
        """Commit one chunk as one snapshot. Skips a chunk this table
        already has, so a torn chunk's re-run never appends its rows
        twice (ADVICE r2)."""
        if chunk_id in self.committed_chunks():
            return
        w = df.writeTo(self.name).option(
            "snapshot-property.ungoliant.chunk", chunk_id
        )
        # Iceberg append() fails on a nonexistent table: the first chunk
        # creates it (createOrReplace would wipe a resumed run's data)
        w.append() if self._exists() else w.create()
        self._committed.add(chunk_id)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.table(self.name)
