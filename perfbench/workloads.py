"""The three workloads, each driven through the engine's public entry
points: ``warmup``, then ``measure`` (untraced, timed for the run's
seconds), ``check`` (outputs against the oracle) and ``trace`` (the
per-layer split, in a session that writes an event log).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from ungoliant_spark.operators import dedup
from ungoliant_spark.operators.annotators import apply_annotators
from ungoliant_spark.operators.audio_ops import audio_dup_components, audio_stats
from ungoliant_spark.operators.blocklist import apply_blocklist
from ungoliant_spark.operators.lid import apply_lid
from ungoliant_spark.operators.model_stage import make_model_stage_udf
from ungoliant_spark.operators.pfilter import apply_pfilter
from ungoliant_spark.operators.scrub import apply_scrub
from ungoliant_spark.operators.trim import apply_trim
from ungoliant_spark.plans import checkpoint
from ungoliant_spark.plans.checkpoint import CheckpointedRun, lineage_of, metrics_of, plan_chunks
from ungoliant_spark.plans.pipeline import decide
from ungoliant_spark.plans.pipeline import run as pipeline_run
from ungoliant_spark.sources import fixtures
from ungoliant_spark.streaming.quality_stream import (
    CLIPS_SCHEMA_DDL,
    stream_quality_filter,
)

import stats
from hostcpu import Span

TERMS = {t: fixtures.ADULT_CATEGORY for t in fixtures.ADULT_TERMS}
N_CHUNKS = 4
MAX_FILES_PER_TRIGGER = 1
# shards of the filter_batch input its traced run drains as a stream,
# for the stream's layers and the stream-vs-batch check
STREAM_TRACE_FILES = 2
F1_MIN = 0.99
SCRUB_EXACT_MIN = 0.99
# largest share of the traced filter_batch pass its layers may leave
# unaccounted
RECONCILE_MAX = 0.10


@dataclass
class Ctx:
    spark: object
    inputs: dict
    seconds: float
    work: str
    cores: int

    def fresh(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


@dataclass
class Measured:
    unit_s: list[float]  # one per timed unit: pass, drain or round
    unit_adj_s: list[float]  # the same, steal-adjusted (hostcpu)
    unit_steal_share: list[float]  # the host's share of each unit (hostcpu)
    batch_s: list[float]  # chunk, micro-batch or round times
    attempted: int
    failed: int
    last_out: str


@dataclass
class Checked:
    values: dict  # reported values, by name
    failures: list[str]
    n: int  # checks made

    def __add__(self, other: "Checked") -> "Checked":
        return Checked({**self.values, **other.values}, self.failures + other.failures, self.n + other.n)


NO_CHECKS = Checked({}, [], 0)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _until(seconds: float, unit, least: int = 1) -> list:
    """Run ``unit(i)`` for i = 0, 1, ... ``least`` times, and again while
    one more unit of the mean length so far still ends within
    ``seconds``."""
    out, t0 = [], time.perf_counter()
    while len(out) < least or (time.perf_counter() - t0) * (len(out) + 1) / len(out) <= seconds:
        out.append(unit(len(out)))
    return out


def _bytes_mismatches(kept_df, src_df) -> int:
    """Kept rows whose audio bytes differ from the input row's (a null
    differs from any bytes), or whose clip_id is not in the input (the
    PCM passthrough invariant)."""
    return (
        kept_df.select("clip_id", F.col("bytes").alias("kept_bytes"))
        .join(src_df.select("clip_id", "bytes"), "clip_id", "left")
        .filter(F.col("bytes").isNull() | ~F.col("kept_bytes").eqNullSafe(F.col("bytes")))
        .count()
    )


def _labels(spark, path: str) -> tuple[dict, dict]:
    rows = spark.read.parquet(path).collect()
    keep = {r.clip_id: r.keep for r in rows}
    scrubbed = {r.clip_id: r.scrubbed_transcript for r in rows if r.keep}
    return keep, scrubbed


def _oracle_checks(spark, inputs: dict, kept_df) -> Checked:
    """keep_f1 and scrub_exact against the oracle labels, and the PCM
    passthrough invariant: every kept row's bytes equal the input
    row's bytes."""
    keep, scrubbed = _labels(spark, inputs["labels"])
    got = {r.clip_id: r.transcript for r in kept_df.select("clip_id", "transcript").collect()}
    f1 = stats.keep_f1({c: True for c in got}, keep)
    exact = sum(1 for c, t in scrubbed.items() if got.get(c) == t) / max(1, len(scrubbed))
    bad_bytes = _bytes_mismatches(kept_df, spark.read.schema(CLIPS_SCHEMA_DDL).parquet(inputs["dir"]))
    failures = []
    if f1 < F1_MIN:
        failures.append(f"keep_f1 {f1:.4f} < {F1_MIN}")
    if exact < SCRUB_EXACT_MIN:
        failures.append(f"scrub_exact {exact:.4f} < {SCRUB_EXACT_MIN}")
    if bad_bytes:
        failures.append(f"{bad_bytes} kept rows whose bytes differ from the input")
    return Checked(
        {"keep_f1": f1, "scrub_exact": exact, "bytes_mismatch": bad_bytes},
        failures,
        3,
    )


# ---------------------------------------------------------------- filter_batch


def _timed_commits(run: CheckpointedRun, log: list) -> None:
    """Record the end of every kept-table append of ``run``: the
    chunk's commit."""
    inner = run.kept.append

    def append(df, chunk_id):
        try:
            return inner(df, chunk_id)
        finally:
            log.append(time.perf_counter())

    run.kept.append = append


def _batch_pass(ctx: Ctx, out: str) -> dict:
    """One ``CheckpointedRun`` over the whole input, as
    ``jobs/run_pipeline.py`` reads it: the shard directory."""
    run = CheckpointedRun(out)
    commits: list = []
    _timed_commits(run, commits)
    clips = ctx.spark.read.parquet(ctx.inputs["dir"])
    span = Span()
    committed = run.run(clips, N_CHUNKS, TERMS, n_partitions=2 * ctx.cores)
    wall, adj, steal = span.stop()
    t0 = span.t0
    ends = [t0] + commits
    return {
        "wall": wall,
        "adj": adj,
        "steal": steal,
        "t0": t0,
        # commit to commit: the chunk cadence a user sees
        "chunk_s": [b - a for a, b in zip(ends, ends[1:])],
        "committed": len(committed),
        "out": out,
    }


def batch_warmup(ctx: Ctx) -> None:
    """Half a pass: ``CheckpointedRun`` over the first half of the
    shards in half the chunks, each chunk of the pass's shape. It
    compiles the plans, starts every Python worker, and the JVM's code
    warms up on it: a new session's first chunk takes several times a
    warm one, and its next few chunks a fifth more."""
    files = ctx.inputs["files"][: len(ctx.inputs["files"]) // 2]
    CheckpointedRun(ctx.fresh("warmup")).run(
        ctx.spark.read.parquet(*files), N_CHUNKS // 2, TERMS, n_partitions=2 * ctx.cores
    )


def batch_measure(ctx: Ctx) -> Measured:
    # two output roots in turn: the last pass's output survives for the checks
    passes = _until(ctx.seconds, lambda i: _batch_pass(ctx, ctx.fresh(f"pass{i % 2}")))
    return Measured(
        unit_s=[p["wall"] for p in passes],
        unit_adj_s=[p["adj"] for p in passes],
        unit_steal_share=[p["steal"] for p in passes],
        batch_s=[c for p in passes for c in p["chunk_s"]],
        attempted=N_CHUNKS * len(passes),
        failed=sum(N_CHUNKS - p["committed"] for p in passes),
        last_out=passes[-1]["out"],
    )


def batch_check(ctx: Ctx, m: Measured) -> Checked:
    kept = CheckpointedRun(m.last_out).kept.read(ctx.spark)
    return _oracle_checks(ctx.spark, ctx.inputs, kept)


def _heuristics(df):
    df = apply_annotators(apply_pfilter(apply_trim(df)))
    return df.withColumn(
        "heuristic_keep",
        F.col("trim_keep") & F.col("pfilter_keep") & F.col("annotation_keep"),
    )


def _model_stage(heur):
    """The fused model node of ``plans.pipeline.run``, fed the same way."""
    model_in = F.when(
        F.col("heuristic_keep") & (F.size("lines") > 0),
        F.array_join(F.col("lines"), "\n"),
    )
    df = heur.withColumn("_m", make_model_stage_udf()(model_in))
    for c in ("lang", "lang_prob", "sentence_langs", "tlsh", "harmful_pp"):
        df = df.withColumn(c, F.col(f"_m.{c}"))
    return df.drop("_m")


def _scrubbed(modelled):
    kept = modelled.filter(F.col("heuristic_keep") & F.col("lang").isNotNull())
    return apply_scrub(apply_blocklist(kept, TERMS)).withColumn("lang_bucket", F.col("lang"))


def _drop_counts(heur) -> dict:
    trim, pf, ann = F.col("trim_keep"), F.col("pfilter_keep"), F.col("annotation_keep")
    row = heur.agg(
        F.sum((~trim).cast("long")).alias("t"),
        F.sum((trim & ~pf).cast("long")).alias("p"),
        F.sum((trim & pf & ~ann).cast("long")).alias("a"),
    ).first()
    return {
        "operators.heuristics.trim_drops": float(row.t or 0),
        "operators.heuristics.pfilter_drops": float(row.p or 0),
        "operators.heuristics.annotator_drops": float(row.a or 0),
    }


def _kernel_calls(spark, heur, kept) -> dict:
    """Single-threaded timed calls into the model-stage kernels on the
    heuristic survivors (LID, TLSH) and on the kept rows (ARPA)."""
    from ungoliant_spark.arpa import load_model
    from ungoliant_spark.lid_model import LidModel
    from ungoliant_spark.operators.lid import LID_LINE_THRESHOLD
    from ungoliant_spark.operators.tlsh_op import tlsh_hash_batch

    docs = [
        r.c
        for r in heur.filter(F.col("heuristic_keep") & (F.size("lines") > 0))
        .select(F.array_join("lines", "\n").alias("c"))
        .collect()
    ]
    lines = [ln.replace("\x00", "") for d in docs for ln in d.split("\n")]
    model = LidModel.load()
    t0 = time.perf_counter()
    model.predict_batch(lines, threshold=LID_LINE_THRESHOLD)
    t1 = time.perf_counter()
    tlsh_hash_batch([d.encode("utf-8") for d in docs])
    t2 = time.perf_counter()
    by_lang = [(r.lang, r.c) for r in kept.select("lang", F.col("_content").alias("c")).collect()]
    models = {lang: load_model(lang) for lang in {lang for lang, _ in by_lang}}
    t3 = time.perf_counter()
    for lang, content in by_lang:
        if models[lang] is not None:
            models[lang].perplexity(content.replace("\n", " "))
    t4 = time.perf_counter()
    return {
        "lid_model.predict_batch_s": t1 - t0,
        "tlsh_op.tlsh_hash_batch_s": t2 - t1,
        "arpa.perplexity_s": t4 - t3,
    }


def _chunk_loop_work(ctx: Ctx, kept, chunk_id: str) -> tuple[float, float]:
    """The chunk loop's own work on one chunk's ``plans.pipeline.run``
    output, done as ``CheckpointedRun.run`` does it but into scratch
    tables: cache, the three snapshot appends (the first computes the
    plan into the cache), unpersist. Returns the whole time and that of
    the two appends that read the cache."""
    scratch = CheckpointedRun(ctx.fresh(f"chunk_loop/{chunk_id}"))
    kept = kept.cache()
    t0 = time.perf_counter()
    scratch.lineage.append(lineage_of(kept, chunk_id), chunk_id)
    t1 = time.perf_counter()
    scratch.metrics.append(metrics_of(kept, chunk_id), chunk_id)
    scratch.kept.append(kept.drop("sentence_langs"), chunk_id)
    t2 = time.perf_counter()
    kept.unpersist()
    return time.perf_counter() - t0, t2 - t1


def batch_trace(ctx: Ctx, window_of) -> tuple[dict, Checked]:
    """Plan prefixes over the whole input on the noop sink; then the
    chunk loop's own work on every chunk, into scratch tables, once
    right before and once right after one traced pass (their mean
    halves the noise of either). Each layer's self time is the delta from
    the previous prefix; the chunk loop's is its time over all chunks
    less the whole ``plans.pipeline.run`` prefix, so it carries the
    cost of running the plan chunk by chunk. With the driver's time
    before the first chunk and inside ``plans.pipeline.run`` (spans of
    the traced pass), the layers must account for the traced pass's
    wall time within RECONCILE_MAX."""
    spark = ctx.spark
    clips = spark.read.parquet(ctx.inputs["dir"])
    chunk_df, strategy, _ = plan_chunks(clips, N_CHUNKS)
    if strategy != "files":
        raise RuntimeError(f"sharded input planned {strategy!r} chunks, not 'files'")
    heur = _heuristics(clips)
    modelled = _model_stage(heur)
    # start the session's Python workers outside any timing
    _noop(_model_stage(_heuristics(chunk_df(0))))
    prefixes = [
        _noop(clips),
        _noop(heur),
        _noop(modelled),
        _noop(_scrubbed(modelled)),
        _noop(pipeline_run(clips, TERMS, 2 * ctx.cores)),
    ]

    def chunk_loops() -> list[tuple[float, float]]:
        return [
            _chunk_loop_work(ctx, pipeline_run(chunk_df(k), TERMS, 2 * ctx.cores), f"chunk-{k:05d}")
            for k in range(N_CHUNKS)
        ]

    # the first chunk loop of a new session runs slower than the ones
    # after it; it is not timed
    _chunk_loop_work(ctx, pipeline_run(chunk_df(0), TERMS, 2 * ctx.cores), "warm")
    before = chunk_loops()
    builds = []

    def timed_run(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return pipeline_run(*args, **kwargs)
        finally:
            builds.append((t0, time.perf_counter() - t0))

    checkpoint.pipeline_run = timed_run
    try:
        p = _batch_pass(ctx, ctx.fresh("traced"))
    finally:
        checkpoint.pipeline_run = pipeline_run
    win = window_of(p["t0"], p["t0"] + p["wall"])
    after = chunk_loops()
    names = [
        "sources.scan_s",
        "operators.heuristics.self_s",
        "operators.model_stage.self_s",
        "operators.scrub.self_s",
        "plans.pipeline.self_s",
        "plans.checkpoint.self_s",
    ]
    loops_s = (sum(s for s, _ in before) + sum(s for s, _ in after)) / 2
    out = stats.self_times(list(zip(names, prefixes + [loops_s])))
    out.update({
        "wall": p["wall"],
        "plans.checkpoint.plan_s": builds[0][0] - p["t0"],
        "plans.pipeline.build_s": sum(d for _, d in builds),
        "plans.checkpoint.chunk_s": statistics.median(p["chunk_s"]),
        "sources.tables.append_s": statistics.mean(s for _, s in before + after),
        "plans.checkpoint.spark_jobs_per_chunk": len(win.jobs) / N_CHUNKS,
        "plans.pipeline.shuffle_write_bytes": win.task_sum("Shuffle Write Metrics", "Shuffle Bytes Written"),
        "plans.pipeline.shuffle_read_bytes": win.shuffle_read_bytes(),
        "plans.pipeline.spill_bytes": win.task_sum("Disk Bytes Spilled"),
        "operators.model_stage.py_rows": win.sql_metric("ArrowEvalPython", "number of output rows"),
        "operators.model_stage.py_bytes_sent": win.sql_metric("ArrowEvalPython", "data sent to Python workers"),
        "operators.model_stage.py_bytes_returned": win.sql_metric("ArrowEvalPython", "data returned from Python workers"),
        "operators.model_stage.py_boot_s": win.sql_metric("ArrowEvalPython", "time to start Python workers")
        + win.sql_metric("ArrowEvalPython", "time to initialize Python workers"),
        **win.common(p["wall"], ctx.cores),
    })
    out["sources.scan_amplification"] = out["sources.bytes_read"] / ctx.inputs["input_bytes"]
    accounted = sum(out[n] for n in names) + out["plans.checkpoint.plan_s"] + out["plans.pipeline.build_s"]
    error = abs(accounted - p["wall"]) / p["wall"]
    out["trace.reconcile_error"] = error
    reconciled = Checked(
        {"reconcile_error": error},
        [f"layer self times account for the traced pass only within {error:.3f} > {RECONCILE_MAX}"]
        if error > RECONCILE_MAX
        else [],
        1,
    )

    out.update(_drop_counts(heur))
    kept = _scrubbed(modelled).withColumn("_content", F.array_join("lines", "\n"))
    out.update(_kernel_calls(spark, heur, kept))
    # rows per output partition of each chunk, from the traced pass's
    # lineage table (shard_id is the partition id)
    sizes: dict = {}
    for r in CheckpointedRun(p["out"]).lineage.read(spark).groupBy("chunk_id", "shard_id").count().collect():
        sizes.setdefault(r.chunk_id, []).append(r["count"])
    out["plans.pipeline.partition_rows_max_over_median"] = max(max(c) / statistics.median(c) for c in sizes.values())

    # the stream's layers, and the stream-vs-batch check, on a backlog
    # of the same shards
    src = _backlog(ctx, "stream_src", ctx.inputs["files"][:STREAM_TRACE_FILES])
    lid = _decide_self_times(spark.read.schema(CLIPS_SCHEMA_DDL).parquet(src))
    out["operators.lid.self_s"] = lid["operators.lid.self_s"]
    d, streaming = _stream_layers(ctx, src)
    out.update(streaming)
    return out, reconciled + _stream_matches_batch(ctx, src, d["out"])


# --------------------------------------------------------------- filter_stream


def _drain(ctx: Ctx, src: str, root: str) -> dict:
    span = Span()
    q = stream_quality_filter(
        ctx.spark, src, os.path.join(root, "data"), os.path.join(root, "ck"),
        TERMS, max_files_per_trigger=MAX_FILES_PER_TRIGGER,
    )
    try:
        q.processAllAvailable()
        wall, adj, steal = span.stop()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()
    return {
        "wall": wall,
        "adj": adj,
        "steal": steal,
        "t0": span.t0,
        "progress": progress,
        "out": os.path.join(root, "data"),
    }


def _backlog(ctx: Ctx, name: str, files: list[str]) -> str:
    """A stream source directory holding copies of ``files``."""
    src = ctx.fresh(name)
    os.makedirs(src)
    for path in files:
        shutil.copy(path, src)
    return src


def _stream_matches_batch(ctx: Ctx, src: str, out: str) -> Checked:
    """The stream's kept (clip_id, transcript) set equals batch
    ``decide()`` on the same files, and kept bytes pass through."""
    spark = ctx.spark
    streamed = spark.read.parquet(out)
    clips = spark.read.schema(CLIPS_SCHEMA_DDL).parquet(src)
    batch = decide(clips, TERMS).filter("keep")
    want = {(r.clip_id, r.scrubbed) for r in batch.select("clip_id", "scrubbed").collect()}
    got = {(r.clip_id, r.transcript) for r in streamed.select("clip_id", "transcript").collect()}
    bad_bytes = _bytes_mismatches(streamed, clips)
    failures = []
    if want != got:
        failures.append(f"stream and batch decide() kept sets differ in {len(want ^ got)} rows")
    if bad_bytes:
        failures.append(f"{bad_bytes} streamed rows whose bytes differ from the input")
    return Checked(
        {"stream_vs_batch_diff": len(want ^ got), "stream_bytes_mismatch": bad_bytes},
        failures,
        2,
    )


def stream_warmup(ctx: Ctx) -> None:
    _drain(ctx, _backlog(ctx, "warm_src", ctx.inputs["files"][:2]), ctx.fresh("warmup"))


def stream_measure(ctx: Ctx) -> Measured:
    drains = _until(ctx.seconds, lambda i: _drain(ctx, ctx.inputs["dir"], ctx.fresh(f"drain{i % 2}")))
    n_files = len(ctx.inputs["files"])
    batches = [p for d in drains for p in d["progress"]]
    expected = len(drains) * -(-n_files // MAX_FILES_PER_TRIGGER)
    return Measured(
        unit_s=[d["wall"] for d in drains],
        unit_adj_s=[d["adj"] for d in drains],
        unit_steal_share=[d["steal"] for d in drains],
        batch_s=[p["durationMs"]["triggerExecution"] / 1e3 for p in batches],
        attempted=expected,
        failed=max(0, expected - len(batches)),
        last_out=drains[-1]["out"],
    )


def stream_check(ctx: Ctx, m: Measured) -> Checked:
    streamed = ctx.spark.read.parquet(m.last_out)
    return _oracle_checks(ctx.spark, ctx.inputs, streamed) + _stream_matches_batch(
        ctx, ctx.inputs["dir"], m.last_out
    )


def _decide_self_times(df) -> dict:
    """Self times of the ``decide()`` layers (the stream's plan) from
    noop-sink prefixes: scan, heuristics, standalone LID, and
    blocklist + scrub."""
    heur = _heuristics(df)
    lid = apply_lid(
        heur.withColumn(
            "_lid_input",
            F.when(F.col("heuristic_keep"), F.col("lines")).otherwise(F.array().cast("array<string>")),
        ),
        lines_col="_lid_input",
    )
    _noop(lid)  # starts the session's Python workers outside any timing
    names = ["sources.scan_s", "operators.heuristics.self_s", "operators.lid.self_s", "operators.scrub.self_s"]
    times = [_noop(p) for p in (df, heur, lid, decide(df, TERMS))]
    return stats.self_times(list(zip(names, times)))


def _stream_layers(ctx: Ctx, src: str) -> tuple[dict, dict]:
    """One drain of ``src``; medians of the per-micro-batch progress
    durations."""
    d = _drain(ctx, src, ctx.fresh("traced_stream"))
    dur = [p["durationMs"] for p in d["progress"]]
    return d, {
        "streaming.plan_s": statistics.median(x.get("queryPlanning", 0) for x in dur) / 1e3,
        "streaming.add_batch_s": statistics.median(x.get("addBatch", 0) for x in dur) / 1e3,
        "streaming.wal_commit_s": statistics.median(x.get("walCommit", 0) for x in dur) / 1e3,
    }


def stream_trace(ctx: Ctx, window_of) -> tuple[dict, Checked]:
    """``decide()`` prefixes first, then one traced drain."""
    src = ctx.spark.read.schema(CLIPS_SCHEMA_DDL).parquet(ctx.inputs["dir"])
    out = _decide_self_times(src)
    out.update(_drop_counts(_heuristics(src)))
    d, streaming = _stream_layers(ctx, ctx.inputs["dir"])
    out.update(streaming)
    out.update(window_of(d["t0"], d["t0"] + d["wall"]).common(d["wall"], ctx.cores))
    out["wall"] = d["wall"]
    out["sources.scan_amplification"] = out["sources.bytes_read"] / ctx.inputs["input_bytes"]
    return out, NO_CHECKS


# -------------------------------------------------------------- dedup_followon


PASSES = {
    "simhash": lambda kept: dedup.simhash_components(kept, id_col="clip_id", text_col="transcript"),
    "minhash": lambda kept: dedup.minhash_components(kept, id_col="clip_id", text_col="transcript"),
    "audio": lambda kept: audio_dup_components(kept),
}


def _dedup_round(ctx: Ctx, out: str) -> dict:
    kept = ctx.spark.read.parquet(*ctx.inputs["files"])
    spans = {}
    span = Span()
    with dedup.group_cache_scope():
        for name, build in PASSES.items():
            s = time.perf_counter()
            build(kept).write.mode("overwrite").parquet(os.path.join(out, name))
            spans[name] = time.perf_counter() - s
    wall, adj, steal = span.stop()
    return {"wall": wall, "adj": adj, "steal": steal, "t0": span.t0, "spans": spans, "out": out}


def dedup_warmup(ctx: Ctx) -> None:
    """One whole round: it compiles every plan of the three passes and
    starts the decoding Python workers, and the JVM's code warms up on
    it. A round over one shard costs nearly as much as a whole round."""
    _dedup_round(ctx, ctx.fresh("warmup"))


def dedup_measure(ctx: Ctx) -> Measured:
    """At least two rounds: one round's time varies by about a tenth
    from run to run on a quiet host, one pass's by more."""
    rounds = _until(ctx.seconds, lambda i: _dedup_round(ctx, ctx.fresh(f"round{i % 2}")), least=2)
    return Measured(
        unit_s=[r["wall"] for r in rounds],
        unit_adj_s=[r["adj"] for r in rounds],
        unit_steal_share=[r["steal"] for r in rounds],
        batch_s=[s for r in rounds for s in r["spans"].values()],
        attempted=len(rounds) * len(PASSES),
        failed=0,
        last_out=rounds[-1]["out"],
    )


def _hamming(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def dedup_check(ctx: Ctx, m: Measured) -> Checked:
    """Every planted pair the lossless Hamming families guarantee lands
    in one component: text pairs within simhash Hamming 3, and audio
    re-uploads and dead-air members within afp Hamming 3. Each pass
    labels every input row it covers."""
    spark = ctx.spark
    kept = spark.read.parquet(*ctx.inputs["files"])
    groups = ctx.inputs["groups"]
    comp = {
        name: {r.clip_id: r.component_rep for r in spark.read.parquet(os.path.join(m.last_out, name)).collect()}
        for name in PASSES
    }

    def planted_ids(family):
        ids = [c for g in groups[family] for c in g]
        return kept.filter(F.col("clip_id").isin(ids))

    hashes = {
        "simhash": {
            r.clip_id: r.simhash
            for r in dedup.simhash63_table(planted_ids("text"), "clip_id", "transcript").collect()
        },
        "audio": {r.clip_id: r.afp for r in audio_stats(planted_ids("audio")).collect()},
    }
    planted = found = beyond = 0
    for family, name in (("text", "simhash"), ("audio", "audio")):
        h, labels = hashes[name], comp[name]
        for g in groups[family]:
            for other in g[1:]:
                if _hamming(h[g[0]], h[other]) > 3:
                    beyond += 1  # not guaranteed by the lossless join
                    continue
                planted += 1
                found += labels.get(g[0]) is not None and labels.get(g[0]) == labels.get(other)
    recall = found / planted if planted else 0.0
    n = ctx.inputs["rows"]
    want_rows = {"simhash": n, "minhash": n, "audio": n - ctx.inputs["undecodable"]}
    failures = []
    if recall < 1.0:
        failures.append(f"dedup_recall {recall:.4f} < 1.0 over {planted} planted pairs")
    for name, rows in want_rows.items():
        if len(comp[name]) != rows:
            failures.append(f"{name} labelled {len(comp[name])} rows, expected {rows}")
    return Checked(
        {"dedup_recall": recall, "planted_pairs": planted, "planted_beyond_hamming": beyond},
        failures,
        1 + len(want_rows),
    )


def dedup_trace(ctx: Ctx, window_of) -> tuple[dict, Checked]:
    """Decode prefix first, then one traced round with a span around
    every ``dedup.near_dup_components`` call. Candidate pairs are the
    rows out of the band joins in the traced window; verified pairs are
    the edges each component call received."""
    spark = ctx.spark
    kept = spark.read.parquet(*ctx.inputs["files"])
    st = audio_stats(kept)
    _noop(st)  # starts the session's Python workers outside any timing
    out = {
        "operators.audio_ops.self_s": _noop(st) - _noop(kept.select("clip_id", "bytes", "codec", "sr_hz")),
        "operators.audio_ops.undecodable_rows": float(st.filter(~F.col("decode_ok")).count()),
        "operators.audio_ops.decode_bytes": float(kept.agg(F.sum(F.octet_length("bytes"))).first()[0]),
    }

    calls = []
    inner = dedup.near_dup_components

    def timed(nodes, pairs, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return inner(nodes, pairs, *args, **kwargs)
        finally:
            calls.append((time.perf_counter() - t0, pairs))

    dedup.near_dup_components = timed
    try:
        r = _dedup_round(ctx, ctx.fresh("traced"))
    finally:
        dedup.near_dup_components = inner
    win = window_of(r["t0"], r["t0"] + r["wall"])
    edges = [pairs.count() for _, pairs in calls]
    candidates = win.band_join_rows()
    largest = [
        spark.read.parquet(os.path.join(r["out"], name)).groupBy("component_rep").count().agg(F.max("count")).first()[0]
        for name in PASSES
    ]
    out.update({
        "wall": r["wall"],
        "operators.audio_ops.py_bytes_sent": win.sql_metric("MapInPandas", "data sent to Python workers"),
        "operators.dedup.candidate_pairs": candidates,
        "operators.dedup.verified_pairs": float(sum(edges)),
        "operators.dedup.verify_ratio": sum(edges) / candidates if candidates else 0.0,
        "operators.dedup.max_group_rows": float(max(largest)),
        "operators.dedup.task_rows_max_over_median": win.max_over_median_task_records(),
        "operators.dedup.components_path": float(all(e <= dedup.DRIVER_CC_MAX_EDGES for e in edges)),
        "operators.dedup.components_edges": float(sum(edges)),
        "operators.dedup.components_s": sum(s for s, _ in calls),
        **win.common(r["wall"], ctx.cores),
    })
    return out, NO_CHECKS


WORKLOADS = {
    "filter_batch": (batch_warmup, batch_measure, batch_check, batch_trace),
    "filter_stream": (stream_warmup, stream_measure, stream_check, stream_trace),
    "dedup_followon": (dedup_warmup, dedup_measure, dedup_check, dedup_trace),
}
