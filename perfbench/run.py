"""Benchmark for the ungoliant_spark quality-filter job on this host.

    python3 perfbench/run.py --workload filter_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. Workloads (BENCHMARK.json says why each
was chosen): ``filter_batch`` (CheckpointedRun over sharded long-audio
clips), ``filter_stream`` (stream_quality_filter draining a backlog of
short-audio files) and ``dedup_followon`` (the simhash, minhash and
audio component passes over a kept-shaped table).

Inputs are generated from the seed and cached under ``.perfbench/``.
With ``--trace 0`` the last stdout line is a JSON object carrying the
end-to-end metrics; with ``--trace 1`` it carries the per-layer
metrics. Earlier lines are a readable report with sample counts. The
exit code is non-zero when any correctness check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time

import hostcpu

START = hostcpu.Span()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "clips_per_s": "1/s",
    "oracle_agreement": "ratio",
}


def host_sizing() -> dict:
    """The three sizing variables the engine reads, from this host:
    every core, and a driver heap of a quarter of available memory,
    between 1 and 4 GB (the inputs are at most a few hundred MB)."""
    cores = len(os.sched_getaffinity(0))
    avail_kb = 0
    with open("/proc/meminfo", encoding="utf-8") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                avail_kb = int(line.split()[1])
    mem_gb = max(1, min(4, avail_kb // (4 * 1024 * 1024)))
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
    }


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_mb(pids: list[int]) -> float:
    """Summed proportional set size: pages shared between the Python
    workers forked from one daemon count once in total."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total / 1024


class MemorySampler:
    """Peak summed proportional set size of this process's descendants
    (the JVM and its Python workers), sampled every 0.25 s while
    started, if enabled. Reading a large JVM's page tables takes CPU
    time, so untraced runs, whose time is the figure, do not sample."""

    def __init__(self, enabled: bool):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True) if enabled else None

    def _loop(self):
        me = os.getpid()
        while not self._stop.wait(0.25):
            self.peak = max(self.peak, _pss_mb(_descendants(me)))

    def __enter__(self):
        if self._thread:
            self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        if self._thread:
            self._thread.join()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM that PySpark launched."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _result(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    })


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ungoliant_spark")):
        print(f"no ungoliant_spark package under {ROOT}", file=sys.stderr)
        return 2
    sizing = host_sizing()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(sizing)
    os.environ.update({
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    })
    sys.path[:0] = [ROOT, HERE]

    import gen
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    warmup, measure, check, trace = workloads.WORKLOADS[args.workload]

    before_gen = START.stop()
    t_gen = time.perf_counter()
    inputs = gen.INPUTS[args.workload](os.path.join(WORK, "cache"), args.seed)
    gen_s = time.perf_counter() - t_gen
    after_gen = hostcpu.Span()

    from ungoliant_spark.session import get_spark

    work = os.path.join(WORK, "run", args.workload)
    t_session = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_session
    spark.sparkContext.setLogLevel("ERROR")
    # the job's own runtime settings (jobs/run_pipeline.py)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    ctx = workloads.Ctx(spark, inputs, args.seconds, work, int(sizing["SPARK_GRAFT_CPUS"]))
    if args.trace:
        # one untraced unit, the base for the tracing overhead
        ctx.seconds = 0
    try:
        with MemorySampler(bool(args.trace)) as rss:
            t_warm = time.perf_counter()
            warmup(ctx)
            t_measure = time.perf_counter()
            # start to first timed unit, without generation
            setup = [a + b for a, b in zip(before_gen[:2], after_gen.stop()[:2])]
            m = measure(ctx)
            t_check = time.perf_counter()
            checked = check(ctx, m)
            phases = {
                "generate_s": gen_s,
                "session_s": session_s,
                "warmup_s": t_measure - t_warm,
                "measure_s": t_check - t_measure,
                "check_s": time.perf_counter() - t_check,
            }
            if args.trace:
                traced, extra = layers.traced(ctx, trace, m.unit_s[0])
                checked = checked + extra
    finally:
        _stop(ctx.spark)

    failed = m.failed + len(checked.failures)
    attempted = m.attempted + checked.n
    rate = inputs["rows"] / statistics.median(m.unit_adj_s)
    oracle = {k: v for k, v in checked.values.items() if k in ("keep_f1", "scrub_exact", "dedup_recall")}
    agreement = min(oracle.values())
    e2e = {
        "setup_s": setup[1],
        "clips_per_s": rate,
        "oracle_agreement": agreement,
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "sizing": sizing,
        "inputs": {"rows": inputs["rows"], "input_bytes": inputs["input_bytes"]},
        "phases_s": phases,
        "units": len(m.unit_s),
        "unit_s": m.unit_s,
        "unit_adj_s": m.unit_adj_s,
        "unit_steal_share": m.unit_steal_share,
        # the end-to-end times on the wall clock, not steal-adjusted
        "wall": {"setup_s": setup[0], "clips_per_s": inputs["rows"] / statistics.median(m.unit_s)},
        "batch_samples": len(m.batch_s),
        "batch_s.p50": workloads.stats.percentile(m.batch_s, 50),
        # the highest percentile with ten samples beyond it, if any
        "batch_s_tail": (
            [tail, workloads.stats.percentile(m.batch_s, tail)]
            if (tail := workloads.stats.highest_percentile(len(m.batch_s)))
            else None
        ),
        "checks": checked.values,
        "failures": checked.failures,
        "end_to_end": {k: [v, END_TO_END[k]] for k, v in e2e.items()},
        # what the JSON folds into oracle_agreement or reports per layer
        "named": {
            **{k: [v, "ratio"] for k, v in oracle.items()},
            ("rows_per_s" if args.workload == "dedup_followon" else "clips_per_s"): [rate, "1/s"],
            "failed_share": [failed / attempted, "ratio"],
            **({"peak_rss_mb": [rss.peak, "MB"]} if args.trace else {}),
        },
    }
    print(json.dumps(report, indent=1, default=str))
    for f in checked.failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    if args.trace:
        traced["check.failed_share"] = failed / attempted
        for k in ("keep_f1", "scrub_exact", "dedup_recall"):
            traced[f"check.{k}"] = checked.values.get(k, 0.0)
        traced["session.start_s"] = session_s
        traced["peak_rss_mb"] = rss.peak
        print(_result(failed == 0, attempted, failed, traced, layers.UNITS))
    else:
        print(_result(failed == 0, attempted, failed, e2e, END_TO_END))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
