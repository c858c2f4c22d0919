"""The job entrypoints (jobs/run_pipeline.py, jobs/run_stream.py).
Most tests call a job's ``run_job`` in-process on the shared session;
one test per entrypoint runs it as a CLI in a new process:
run_pipeline twice on the sf0.001 fixture with a UT1-style blocklist
directory — first run commits everything and writes
metadata_schema.json, second run is a no-op resume."""

from __future__ import annotations

import io
import json
import os
import shutil
import subprocess
import sys
from contextlib import redirect_stdout

import pytest

from jobs import run_pipeline, run_stream

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, ".cache", "test_cli_out")


def _run_process(job: str, args: list[str]) -> str:
    """``jobs/{job}.py`` as a CLI, in a new process; its stdout."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    res = subprocess.run(
        [sys.executable, f"jobs/{job}.py", *args],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    return res.stdout


def _run_in_process(job, spark, args: list[str]) -> str:
    """``job``'s body on ``spark`` for the CLI ``args``; its stdout."""
    out = io.StringIO()
    with redirect_stdout(out):
        job.run_job(spark, job.parse_args(args))
    return out.getvalue()


def _run_cli(spark, args: list[str]) -> str:
    return _run_in_process(run_pipeline, spark, args)


def test_cli_snapshot_run_and_resume(tmp_path):
    from ungoliant_spark.sources.fixtures import ADULT_TERMS, generate

    clips = os.path.join(generate(0.001, with_labels=False), "clips.parquet")
    bl = tmp_path / "ut1" / "adult"
    bl.mkdir(parents=True)
    (bl / "terms").write_text("\n".join(ADULT_TERMS))
    shutil.rmtree(OUT, ignore_errors=True)

    out1 = _run_process(
        "run_pipeline",
        ["--input", clips, "--output", OUT, "--chunks", "4",
         "--blocklist", str(tmp_path / "ut1")]
    )
    assert "committed 4 new chunks" in out1
    assert os.path.exists(os.path.join(OUT, "metadata_schema.json"))
    schema = json.load(open(os.path.join(OUT, "metadata_schema.json")))
    names = {f["name"] for f in schema["fields"]}
    assert {"clip_id", "bytes", "lang", "tlsh", "harmful_pp"} <= names

    # all three tables committed the same chunk set
    from ungoliant_spark.plans.checkpoint import CheckpointedRun

    run = CheckpointedRun(OUT)
    assert len(run.committed_chunks()) == 4
    assert run.kept.verify_checksums() == []

    # resume: nothing new; jsonl packaging step through the CLI flag.
    # The resume passes the SAME blocklist — the run-config pin
    # refuses a resume whose flags differ from the committed chunks'
    # (covered by test_cli_rate_gate / test_run_config_pinned_*)
    import glob

    jl = os.path.join(OUT, "jsonl")
    out2 = _run_process(
        "run_pipeline",
        ["--input", clips, "--output", OUT, "--chunks", "4",
         "--blocklist", str(tmp_path / "ut1"), "--jsonl-out", jl],
    )
    assert "committed 0 new chunks" in out2
    assert "packaged jsonl" in out2
    parts = glob.glob(os.path.join(jl, "lang_bucket=*", "*.txt.gz"))
    assert parts
    import gzip

    first = gzip.open(parts[0], "rt", encoding="utf-8").readline()
    doc = json.loads(first)
    assert "content" in doc and "identification" in doc["metadata"]
    shutil.rmtree(OUT, ignore_errors=True)


def test_schema_json_path_derivation(tmp_path):
    """ADVICE r2: the Iceberg sink wrote metadata_schema.json to the
    process CWD — it must derive from --output so spark-submit from
    another directory doesn't scatter it and concurrent jobs with
    different outputs can't clobber each other."""
    from ungoliant_spark.plans import checkpoint as cp

    # path-like output → beside the output root (snapshot-branch parity)
    p = cp.schema_json_path(str(tmp_path / "outdir"))
    assert p == str(tmp_path / "outdir" / "metadata_schema.json")
    assert os.path.isdir(tmp_path / "outdir")
    # catalog identifier → per-output filename, no directory
    assert cp.schema_json_path("cat.db.run1") == "cat.db.run1.metadata_schema.json"
    assert cp.schema_json_path("cat.db.run2") != cp.schema_json_path("cat.db.run1")


def test_chunk_pin_cross_check(tmp_path, monkeypatch):
    """ADVICE r4: resuming a catalog-identifier output from a
    different CWD loses the CWD-relative chunks.json — committed
    chunks with no pin file must fail loudly instead of silently
    re-pinning a fresh plan (which could map committed chunk ids to
    different row subsets)."""
    from ungoliant_spark.plans import checkpoint as cp

    monkeypatch.chdir(tmp_path)
    # fresh run (nothing committed): pinning proceeds
    assert cp.check_chunk_pin("cat.db.run", False).endswith(
        "cat.db.run.chunks.json"
    )
    # committed chunks but no pin here → wrong-CWD resume, refuse
    with pytest.raises(RuntimeError, match="no pinned chunk plan"):
        cp.check_chunk_pin("cat.db.run", True)
    # pin present (right CWD): resume proceeds
    (tmp_path / "cat.db.run.chunks.json").write_text("{}")
    assert cp.check_chunk_pin("cat.db.run", True)
    # path-like outputs keep the pin beside the output (durable); the
    # refusal there is the next test's
    out = tmp_path / "outdir"
    p = cp.check_chunk_pin(str(out), False)
    assert p == str(out / "chunks.json")


def test_snapshot_resume_without_chunk_pin_refuses(spark, tmp_path):
    """The ADVICE r4 guard holds for snapshot outputs too: committed
    chunks whose chunks.json is gone refuse to re-pin a fresh plan."""
    from ungoliant_spark.plans.checkpoint import CheckpointedRun
    from ungoliant_spark.sources.fixtures import generate

    clips = spark.read.parquet(
        os.path.join(generate(0.001, with_labels=False), "clips.parquet")
    )
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="simulated crash"):
        CheckpointedRun(out).run(clips, 2, fail_after=1)
    os.remove(os.path.join(out, "chunks.json"))
    with pytest.raises(RuntimeError, match="no pinned chunk plan"):
        CheckpointedRun(out).run(clips, 2)
    assert not os.path.exists(os.path.join(out, "chunks.json"))


def test_jsonl_by_lang_sink(spark, tmp_path):
    """OSCAR-document JSONL packaging: per-lang gzip files, valid JSON
    lines in the 22.01 metadata shape, content == kept transcript."""
    import glob

    from pyspark.sql import functions as F

    from ungoliant_spark.plans.pipeline import run as pipeline_run
    from ungoliant_spark.sources.fixtures import generate
    from ungoliant_spark.sources.jsonl import write_jsonl_by_lang

    clips = spark.read.parquet(f"{generate(0.001)}/clips.parquet")
    kept = pipeline_run(clips)
    out = str(tmp_path / "jsonl")
    write_jsonl_by_lang(kept, out)

    # layout: one dir per lang bucket, gzip'd part files
    langs = {os.path.basename(p).split("=", 1)[1]
             for p in glob.glob(f"{out}/lang_bucket=*")}
    kept_langs = {r["lang_bucket"] for r in
                  kept.select("lang_bucket").distinct().collect()}
    assert langs == kept_langs
    assert glob.glob(f"{out}/lang_bucket=*/*.txt.gz")

    # round-trip: every kept row appears with identical content/meta
    back = spark.read.json(f"{out}/lang_bucket=*/")
    assert back.count() == kept.count()
    got = {
        r["metadata"]["clip"]["clip_id"]: r
        for r in back.collect()
    }
    for r in kept.collect():
        b = got[r["clip_id"]]
        assert b["content"] == r["transcript"]
        assert b["metadata"]["identification"]["label"] == r["lang"]
        assert b["metadata"]["tlsh"] == r["tlsh"]
        assert list(b["metadata"]["quality_warnings"] or []) == list(
            r["quality_warnings"] or []
        )


def test_cli_dedup_follow_on_pass(spark, tmp_path):
    """--dedup (round-4 verdict item 2): the CLI's cross-chunk dedup
    pass over the committed kept table writes a clip_id → rep mapping
    whose join cardinality against kept is exactly 1:1, with reps
    drawn from the kept set and exact-dup transcripts sharing a rep.
    Re-running (resume: 0 new chunks) recomputes the same mapping."""
    from pyspark.sql import functions as F

    from ungoliant_spark.sources.fixtures import generate

    clips = os.path.join(generate(0.001, with_labels=False), "clips.parquet")
    out = str(tmp_path / "dedup_out")

    _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                     "--dedup", "exact"])
    from ungoliant_spark.plans.checkpoint import CheckpointedRun

    kept = CheckpointedRun(out).kept.read(spark)
    ded = spark.read.parquet(os.path.join(out, "dedup"))
    n_kept = kept.count()
    # cardinality: exactly one mapping row per kept clip, and the
    # inner join loses nothing (mapping ids ⊆ kept ids and vice versa)
    assert ded.count() == n_kept
    assert kept.join(ded, "clip_id").count() == n_kept
    # reps are kept clips themselves, and every exact-dup transcript
    # group shares one rep (the mapping really is cluster-level)
    assert ded.join(
        kept.select(F.col("clip_id").alias("rep_id")), "rep_id"
    ).count() == n_kept
    per_text = (
        kept.join(ded, "clip_id")
        .groupBy(F.lower(F.trim("transcript")).alias("t"))
        .agg(F.count_distinct("rep_id").alias("reps"),
             F.count(F.lit(1)).alias("n"))
    )
    assert per_text.filter(F.col("reps") != 1).count() == 0
    # cluster_size agrees with the observed duplicate counts
    sizes = {
        r["clip_id"]: r["cluster_size"] for r in ded.collect()
    }
    assert all(v >= 1 for v in sizes.values())

    # component variants on resume: no new chunks, components written;
    # exact dups are both Hamming-0 and Jaccard-1 near-dups, so every
    # exact cluster sits inside one component for either family
    for variant in ("simhash", "minhash"):
        stdout = _run_cli(spark, ["--input", clips, "--output", out,
                                  "--chunks", "2", "--dedup", variant])
        assert "committed 0 new chunks" in stdout
        assert f"dedup ({variant}) mapping" in stdout
        comp = spark.read.parquet(os.path.join(out, "dedup"))
        assert set(comp.columns) == {"clip_id", "component_rep"}
        assert comp.count() == n_kept
        joined = kept.join(comp, "clip_id").groupBy(
            F.lower(F.trim("transcript")).alias("t")
        ).agg(F.count_distinct("component_rep").alias("comps"))
        assert joined.filter(F.col("comps") != 1).count() == 0, variant

    # boilerplate pass on the same committed output: mapping is total
    # and transcripts without over-frequent lines pass through intact
    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--strip-boilerplate", "0.9"])
    assert "boilerplate-stripped transcripts" in stdout
    bpdf = spark.read.parquet(os.path.join(out, "boilerplate"))
    assert bpdf.count() == n_kept
    assert set(bpdf.columns) == {
        "clip_id", "transcript_clean", "n_boilerplate_lines"
    }
    # at a 90% threshold nothing in the fixture is boilerplate: the
    # cleaned transcript equals the original for every kept clip
    same = kept.join(bpdf, "clip_id").filter(
        (F.col("transcript_clean") == F.col("transcript"))
        & (F.col("n_boilerplate_lines") == 0)
    )
    assert same.count() == n_kept

    # --decontam (round-5 verdict item 3): plant one kept transcript
    # in the benchmark file; its clip must come back contaminated,
    # the mapping must be total (1:1 with kept), and clips sharing no
    # 3-gram with the benchmark stay clean
    planted = kept.select("clip_id", "transcript").filter(
        F.size(F.split("transcript", r"\s+")) >= 3
    ).orderBy("clip_id").first()
    bench_path = str(tmp_path / "bench.txt")
    with open(bench_path, "w", encoding="utf-8") as f:
        f.write(planted["transcript"] + "\n")
    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--decontam", bench_path, "--decontam-ngram", "3"])
    assert "decontamination flags (n=3)" in stdout
    dc = spark.read.parquet(os.path.join(out, "decontam"))
    assert set(dc.columns) == {
        "clip_id", "n_overlap_ngrams", "contaminated"
    }
    assert dc.count() == n_kept
    assert kept.join(dc, "clip_id").count() == n_kept
    row = dc.filter(F.col("clip_id") == planted["clip_id"]).first()
    assert row["contaminated"] and row["n_overlap_ngrams"] >= 1
    # the fixture has distinct transcripts too — not everything flags
    assert dc.filter(~F.col("contaminated")).count() > 0

    # --repetition (round-5 verdict item 6): total annotation with
    # the Gopher signal columns
    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--repetition"])
    assert "repetition signals" in stdout
    rp = spark.read.parquet(os.path.join(out, "repetition"))
    assert rp.count() == n_kept
    assert {"clip_id", "dup2_frac", "top2_char_frac",
            "dup3_frac", "top3_char_frac"} <= set(rp.columns)

    # --audio-dedup (round-6): acoustic near-dup clusters over the
    # kept table — total mapping, and every non-singleton cluster is
    # a planted (prev, dup) re-upload pair with both sides kept
    from ungoliant_spark.sources.fixtures import is_dup_row

    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--audio-dedup"])
    assert "audio dedup mapping" in stdout
    ad = spark.read.parquet(os.path.join(out, "audio_dedup"))
    assert set(ad.columns) == {"clip_id", "component_rep"}
    assert ad.count() == n_kept
    assert kept.join(ad, "clip_id").count() == n_kept
    clustered = {
        r["clip_id"]: r["component_rep"]
        for r in ad.filter(
            F.col("clip_id") != F.col("component_rep")
        ).collect()
    }
    assert clustered, "no audio near-dup survived the transcript gate"
    for cid, rep in clustered.items():
        i = int(cid.split("-")[1])
        assert is_dup_row(i) and rep == f"clip-{i - 1:08d}", (cid, rep)

    # --speech-rate / --vad (round-6): total signal annotations
    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--speech-rate", "--vad"])
    assert "speech-rate signals" in stdout and "vad signals" in stdout
    srdf = spark.read.parquet(os.path.join(out, "speech_rate"))
    assert srdf.count() == n_kept
    assert {"clip_id", "n_tokens", "tokens_per_s", "rate_ok"} <= set(
        srdf.columns
    )
    vdf = spark.read.parquet(os.path.join(out, "vad"))
    assert vdf.count() == n_kept
    assert {"clip_id", "n_active", "active_ratio", "longest_run"} <= set(
        vdf.columns
    )


def test_cli_snapshot_table_input_uses_manifest(spark, tmp_path):
    """A SnapshotTable root as --input: the CLI reads the committed
    files from the MANIFEST and pins file-range chunks from it
    (metadata-only planning, round-3 verdict item 6). Output equals a
    run over the raw fixture."""
    from ungoliant_spark.sources.fixtures import generate
    from ungoliant_spark.sources.tables import SnapshotTable

    clips_pq = os.path.join(
        generate(0.001, with_labels=False), "clips.parquet"
    )
    src_root = str(tmp_path / "intable")
    tbl = SnapshotTable(src_root)
    clips = spark.read.parquet(clips_pq)
    tbl.append(clips.repartition(8), "chunk-00000")

    out = str(tmp_path / "outtable")
    stdout = _run_cli(
        spark, ["--input", src_root, "--output", out, "--chunks", "4"]
    )
    assert "committed 4 new chunks" in stdout
    # the pinned plan is file-range over the MANIFEST file list
    plan = json.load(open(os.path.join(out, "chunks.json")))
    assert plan["strategy"] == "files"
    assert sorted(plan["files"]) == sorted(tbl.files())

    from ungoliant_spark.plans.checkpoint import CheckpointedRun

    kept = CheckpointedRun(out).kept.read(spark)
    from ungoliant_spark.plans.pipeline import run as pipeline_run

    direct = pipeline_run(clips).select("clip_id")
    got = kept.select("clip_id")
    assert direct.subtract(got).count() == 0
    assert got.subtract(direct).count() == 0


def test_cli_audio_gate(spark, tmp_path):
    """--audio-gate (round-5 verdict item 4, CLI leg): the committed
    kept table equals transcript-keep AND audio_keep, with the ground
    truth for the audio side rebuilt from the INDEPENDENT RIFF-walk
    decode path (oracle_sql_clips.ensure_audio_expected) — so the
    planted silent/clipped/dead-air clips are provably absent."""
    import pyarrow.parquet as pq

    from ungoliant_spark.operators.audio_ops import (
        CLIP_PEAK,
        MAX_SILENCE_RATIO,
        RMS_SILENCE,
    )
    from ungoliant_spark.oracle_sql_clips import ensure_audio_expected
    from ungoliant_spark.sources.fixtures import generate

    fx = generate(0.001)
    clips = os.path.join(fx, "clips.parquet")
    out = str(tmp_path / "gated_out")
    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--audio-gate"])
    assert "committed 2 new chunks" in stdout

    labels = {
        r["clip_id"]: r["keep"]
        for r in pq.read_table(
            os.path.join(fx, "labels.parquet"), columns=["clip_id", "keep"]
        ).to_pylist()
    }
    audio_keep = {}
    for r in pq.read_table(
        ensure_audio_expected(0.001),
        columns=["clip_id", "decode_ok", "rms", "peak", "frame_energy"],
    ).to_pylist():
        if not r["decode_ok"]:
            audio_keep[r["clip_id"]] = False
            continue
        silent = sum(1 for e in r["frame_energy"] if e < RMS_SILENCE)
        ratio = round(silent / len(r["frame_energy"]), 3)
        audio_keep[r["clip_id"]] = (
            r["rms"] >= RMS_SILENCE
            and r["peak"] < CLIP_PEAK
            and ratio <= MAX_SILENCE_RATIO
        )

    from ungoliant_spark.plans.checkpoint import CheckpointedRun

    got = {
        r["clip_id"]
        for r in CheckpointedRun(out).kept.read(spark)
        .select("clip_id").collect()
    }
    expected = {c for c, k in labels.items() if k and audio_keep[c]}
    assert got == expected
    # the gate actually bit: some transcript-kept clips were dropped
    assert expected < {c for c, k in labels.items() if k}


def test_cli_audio_gate_fingerprint_reuse(spark, tmp_path):
    """Round-6 verdict item 3: an --audio-gate run persists the
    acoustic fingerprint (computed inside the gate's decode pass) on
    the kept rows, and the follow-on --audio-dedup pass consumes it —
    its plan contains NO Python decode stage — with output identical
    to the decode-in-line path. --ref-fingerprints then runs the
    cross-corpus pass against a committed fingerprint table without
    re-decoding either side. Resuming with a different gate flag
    refuses loudly (run-config pin)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from ungoliant_spark.operators.audio_ops import audio_dup_components
    from ungoliant_spark.operators.dedup import group_cache_scope
    from ungoliant_spark.oracle_sql_clips import ensure_audio_expected
    from ungoliant_spark.plans.checkpoint import CheckpointedRun
    from ungoliant_spark.sources.fixtures import generate

    clips = os.path.join(generate(0.001, with_labels=False), "clips.parquet")
    out = str(tmp_path / "gated_fp_out")
    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--audio-gate", "--audio-dedup", "--vad"])
    assert "audio dedup mapping" in stdout and "vad signals" in stdout

    kept = CheckpointedRun(out).kept.read(spark)
    assert "afp" in kept.columns and "frame_energy" in kept.columns
    # the persisted fingerprints are the real ones: bit-identical to
    # the INDEPENDENT-decode expected table for every kept clip
    expected_fp = {
        r["clip_id"]: r["afp"]
        for r in pq.read_table(
            ensure_audio_expected(0.001), columns=["clip_id", "afp"]
        ).to_pylist()
    }
    got_fp = {
        r["clip_id"]: r["afp"]
        for r in kept.select("clip_id", "afp").collect()
    }
    assert got_fp and all(
        expected_fp[c] == fp for c, fp in got_fp.items()
    )

    # plan gate: the reuse paths have no Python stage at all — the
    # dedup pass folds over persisted fingerprints, the vad pass over
    # persisted frame energies
    for plan_df in (
        run_pipeline.build_audio_dedup(kept), run_pipeline.build_vad(kept)
    ):
        plan = plan_df._jdf.queryExecution().executedPlan().toString()
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                     "PythonMapInArrow", "FlatMapGroupsInPandas"):
            assert node not in plan, (node, plan)

    # vad values from persisted energies == decode-in-line over the
    # same kept clips
    from ungoliant_spark.operators.audio_ops import audio_vad

    vad_written = sorted(
        map(tuple,
            spark.read.parquet(os.path.join(out, "vad")).collect())
    )
    vad_inline = sorted(
        map(
            tuple,
            audio_vad(kept.drop("afp", "frame_energy")).collect(),
        )
    )
    assert vad_written == vad_inline

    # outputs unchanged vs decoding the kept audio in-line
    with group_cache_scope():
        via_decode = sorted(
            map(tuple, audio_dup_components(kept.drop("afp")).collect())
        )
    written = sorted(
        map(tuple,
            spark.read.parquet(os.path.join(out, "audio_dedup")).collect())
    )
    assert written == via_decode

    # --ref-fingerprints: the committed gated kept table IS a valid
    # fingerprint table; self-reference flags every clip (its own
    # fingerprint is in the reference) with a rep no later than itself
    stdout = _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2",
                              "--audio-gate",
                              "--ref-fingerprints", os.path.join(out, "kept")])
    assert "audio cross-corpus dedup" in stdout
    ada = spark.read.parquet(os.path.join(out, "audio_dedup_against"))
    assert ada.count() == kept.count()
    assert ada.filter(~F.col("is_dup")).count() == 0
    assert ada.filter(F.col("dup_of_ref") > F.col("clip_id")).count() == 0

    # run-config pin: resuming the same output WITHOUT the gate fails
    with pytest.raises(RuntimeError, match="run config mismatch"):
        _run_cli(spark, ["--input", clips, "--output", out, "--chunks", "2"])


def test_cli_rate_gate(spark, tmp_path):
    """--rate-gate CLI leg: the committed kept set equals the library
    run with rate_gate=True (the flag really reaches pipeline_run),
    the run-config pin records it, and resuming without it refuses."""
    from ungoliant_spark.plans.checkpoint import CheckpointedRun
    from ungoliant_spark.plans.pipeline import run as pipeline_run
    from ungoliant_spark.sources.fixtures import generate

    clips_path = os.path.join(
        generate(0.001, with_labels=False), "clips.parquet"
    )
    out = str(tmp_path / "rate_out")
    _run_cli(spark, ["--input", clips_path, "--output", out, "--chunks", "2",
                     "--rate-gate"])
    cfg = json.load(open(os.path.join(out, "run_config.json")))
    assert cfg["rate_gate"] is True and cfg["audio_gate"] is False
    kept = CheckpointedRun(out).kept.read(spark)
    got = {r["clip_id"] for r in kept.select("clip_id").collect()}
    clips = spark.read.parquet(clips_path)
    want = {
        r["clip_id"]
        for r in pipeline_run(clips, rate_gate=True)
        .select("clip_id").collect()
    }
    assert got == want
    # the fixture's independent transcript/duration draws make most
    # rows implausible — the gate visibly bit
    base = pipeline_run(clips).count()
    assert len(got) < base
    with pytest.raises(RuntimeError, match="run config mismatch"):
        _run_cli(spark, ["--input", clips_path, "--output", out,
                         "--chunks", "2"])


def test_stream_cli_audio_dedup_available_now(spark, tmp_path):
    """jobs/run_stream.py --mode audio-dedup drains a bounded input
    (--available-now) and drops the byte-identical re-upload while
    keeping every distinct clip — streaming-family job reachability."""
    from datetime import datetime

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ungoliant_spark.sources.audio import encode, synth_pcm

    rows = []
    for i in range(4):
        pcm = synth_pcm(np.random.default_rng(7 + i), 16000, 250)
        rows.append(
            (f"c{i}", encode(pcm, 16000, "pcm_s16le"), 16000, 250,
             "pcm_s16le", f"t{i}", "ok", datetime(2026, 1, 1, 0, 0, 0))
        )
    rows.append(
        ("dup-c0", rows[0][1], 16000, 250, "pcm_s16le", "re", "dup",
         datetime(2026, 1, 1, 0, 5, 0))
    )
    schema = pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
            ("case_class", pa.string()),
            ("ingest_ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        ),
        str(src / "part-0.parquet"),
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stdout = _run_in_process(
        run_stream,
        spark,
        ["--mode", "audio-dedup", "--input", str(src), "--output", out,
         "--checkpoint", ckpt, "--available-now"]
    )
    assert "stream audio-dedup: committed" in stdout
    got = duckdb.sql(
        f"select clip_id from read_parquet('{out}/*.parquet')"
    ).fetchall()
    ids = {r[0] for r in got}
    assert ids == {"c0", "c1", "c2", "c3"}
    # per-batch observability lands next to the sink (hidden from
    # parquet readers by the underscore prefix)
    import json

    prog = json.load(open(os.path.join(out, "_stream_progress.json")))
    assert prog["mode"] == "audio-dedup"
    assert prog["input_rows"] == 5
    assert prog["batches"] >= 1


def test_stream_cli_quality_available_now(spark, tmp_path):
    """jobs/run_stream.py --mode quality drains the input dir through
    the full decide() surface and writes lang_bucket-partitioned kept
    rows — the online twin of the batch pipeline, job-reachable."""
    import shutil as sh

    import duckdb

    from ungoliant_spark.sources.fixtures import generate

    clips = os.path.join(generate(0.001, with_labels=False), "clips.parquet")
    src = tmp_path / "src"
    src.mkdir()
    sh.copy(clips, str(src / "part-0.parquet"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stdout = _run_in_process(
        run_stream,
        spark,
        ["--mode", "quality", "--input", str(src), "--output", out,
         "--checkpoint", ckpt, "--available-now"]
    )
    assert "stream quality: committed" in stdout
    n = duckdb.sql(
        f"select count(*) from read_parquet('{out}/**/*.parquet', "
        "hive_partitioning=true)"
    ).fetchone()[0]
    assert n > 0


def test_stream_cli_text_dedup_available_now(tmp_path):
    """jobs/run_stream.py --mode dedup: watermark-bounded exact
    transcript dedup on ingest through the CLI wiring (--ts-col /
    --watermark defaults) — the first copy passes, the same-horizon
    recrawl copy drops."""
    from datetime import datetime

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
            ("case_class", pa.string()),
            ("ingest_ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    t1, t2 = datetime(2026, 1, 1, 0, 0, 0), datetime(2026, 1, 1, 0, 9, 0)
    rows = [
        ("a", b"x", 16000, 100, "pcm_s16le", "hello world", "ok", t1),
        ("b", b"x", 16000, 100, "pcm_s16le", "fresh text", "ok", t1),
        # same transcript modulo the dedup normalization, new id
        ("a-again", b"x", 16000, 100, "pcm_s16le", "Hello   WORLD", "dup", t2),
    ]
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.Table.from_pylist(
            [dict(zip(schema.names, r)) for r in rows], schema=schema
        ),
        str(src / "part-0.parquet"),
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stdout = _run_process(
        "run_stream",
        ["--mode", "dedup", "--input", str(src), "--output", out,
         "--checkpoint", ckpt, "--available-now"]
    )
    assert "stream dedup: committed" in stdout
    ids = {
        r[0]
        for r in duckdb.sql(
            f"select clip_id from read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    assert ids == {"a", "b"}
