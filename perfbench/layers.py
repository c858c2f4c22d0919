"""The traced run: a second Spark session that writes an event log,
in which each workload's ``trace`` function times one unit with spans,
runs plan prefixes on the noop sink and times public kernels.

Every per-layer metric is reported on every workload; a layer a
workload does not exercise reads 0.
"""

from __future__ import annotations

import os
import shutil
import time

import sparkmetrics

UNITS = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.bytes_read": "bytes",
    "sources.scan_amplification": "ratio",
    "operators.heuristics.self_s": "s",
    "operators.heuristics.trim_drops": "count",
    "operators.heuristics.pfilter_drops": "count",
    "operators.heuristics.annotator_drops": "count",
    "operators.model_stage.self_s": "s",
    "operators.model_stage.py_rows": "count",
    "operators.model_stage.py_bytes_sent": "bytes",
    "operators.model_stage.py_bytes_returned": "bytes",
    "operators.model_stage.py_boot_s": "s",
    "lid_model.predict_batch_s": "s",
    "tlsh_op.tlsh_hash_batch_s": "s",
    "arpa.perplexity_s": "s",
    "operators.lid.self_s": "s",
    "operators.scrub.self_s": "s",
    "plans.pipeline.self_s": "s",
    "plans.pipeline.build_s": "s",
    "plans.pipeline.shuffle_write_bytes": "bytes",
    "plans.pipeline.shuffle_read_bytes": "bytes",
    "plans.pipeline.spill_bytes": "bytes",
    "plans.pipeline.partition_rows_max_over_median": "ratio",
    "plans.checkpoint.self_s": "s",
    "plans.checkpoint.plan_s": "s",
    "plans.checkpoint.chunk_s": "s",
    "plans.checkpoint.spark_jobs_per_chunk": "count",
    "sources.tables.append_s": "s",
    "streaming.plan_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "operators.audio_ops.self_s": "s",
    "operators.audio_ops.decode_bytes": "bytes",
    "operators.audio_ops.py_bytes_sent": "bytes",
    "operators.audio_ops.undecodable_rows": "count",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_ratio": "ratio",
    "operators.dedup.max_group_rows": "count",
    "operators.dedup.task_rows_max_over_median": "ratio",
    "operators.dedup.components_path": "bool",
    "operators.dedup.components_edges": "count",
    "operators.dedup.components_s": "s",
    "peak_rss_mb": "MB",
    "jvm.gc_s": "s",
    "jvm.cpu_utilization": "ratio",
    "trace.overhead_s": "s",
    "trace.reconcile_error": "ratio",
    "check.keep_f1": "ratio",
    "check.scrub_exact": "ratio",
    "check.dedup_recall": "ratio",
    "check.failed_share": "ratio",
}


def traced(ctx, trace, untraced_wall_s: float) -> tuple[dict, object]:
    """Restart ``ctx.spark`` with the event log on and run
    ``trace(ctx, window_of)``; each trace does its untimed work (which
    starts the new session's Python workers) before its traced unit. ``window_of(t0, t1)`` takes two
    ``time.perf_counter`` readings and returns the
    :class:`sparkmetrics.Window` of events between them. Returns the
    per-layer metrics, with the tracing overhead (the traced unit's
    wall time minus ``untraced_wall_s``), and the checks the trace
    made."""
    from ungoliant_spark.session import get_spark

    evdir = os.path.join(ctx.work, "eventlog")
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir)
    jvm = ctx.spark._jvm
    ctx.spark.stop()
    # read by the next SparkContext's SparkConf, which loads spark.*
    # system properties
    for key, value in {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + evdir,
        "spark.eventLog.compress": "false",
    }.items():
        jvm.java.lang.System.setProperty(key, value)
    ctx.spark = get_spark("perfbench-traced")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    offset = time.time() - time.perf_counter()

    def window_of(t0: float, t1: float) -> sparkmetrics.Window:
        # deliver every queued event to the event-log writer, which
        # flushes at each job end
        ctx.spark._jsc.sc().listenerBus().waitUntilEmpty()
        events = sparkmetrics.read_events(evdir)
        return sparkmetrics.Window(events, (t0 + offset) * 1e3 - 1, (t1 + offset) * 1e3 + 1)

    out, checked = trace(ctx, window_of)
    out["trace.overhead_s"] = out.pop("wall") - untraced_wall_s
    unknown = set(out) - set(UNITS)
    if unknown:
        raise KeyError(f"trace reported metrics with no unit: {sorted(unknown)}")
    return {k: float(out.get(k, 0.0)) for k in UNITS}, checked
