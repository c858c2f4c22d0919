"""The full quality-filter pipeline over a clips table — the Spark
equivalent of OscarDocNew::run (/root/reference/src/pipelines/
oscardoc/pipeline.rs:426-507).

One plan, built by :func:`decide`; ``run()``, the stream
(streaming/quality_stream.py) and the ``clips_decisions`` query all
build on it. Stage order and the reasoning (SURVEY.md §4 "cheap
filters first"):

  scan → trim → PFilter → annotators → heuristic_keep (all Catalyst)
  → ONE fused model node (LID + TLSH + perplexity,
  operators/model_stage.py) → audio / rate gates (opt-in) →
  blocklist → PII scrub (Catalyst) → scrubbed / lang_bucket masks

``run()`` = decide → filter(keep) → salted repartition → sink columns.

The reference builds its pipeline once and streams every shard
through it (OscarDocNew::run); here a chunk or micro-batch plays the
shard, so the plan's Columns are built once per session, blocklist
content and gate pair, and each decide() call only applies them
(``_memo_plan``). Rebuilding them per chunk cost ~3,600 py4j round
trips of driver time per build while the executors sat idle.

The reference runs annotators *after* LID (pipeline.rs:213-226); the
annotations are pure functions of the trimmed content, so hoisting
the noisy+tiny drop above the Python stage changes no decision while
sparing the expensive model pass for doomed rows — the same
discipline the reference itself applies by running trim/PFilter
before fastText. Catalyst cannot reorder predicates across a Python
UDF, so this staging is done by hand here.

The audio ``bytes`` column never enters the Python stage: the model
UDF consumes only the joined ``lines`` string, so ArrowEvalPython
ships just that column to the worker (verified by plan inspection in
tests).
"""

from __future__ import annotations

import threading
import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ungoliant_spark.operators.annotators import (
    noisy_tiny_drop,
    quality_warnings,
)
from ungoliant_spark.operators.blocklist import categories_from_terms
from ungoliant_spark.operators.model_stage import (
    MODEL_RESULT_T,
    make_model_stage_udf,
)
from ungoliant_spark.operators.pfilter import pfilter_keep
from ungoliant_spark.operators.scrub import scrub
from ungoliant_spark.operators.trim import trim_stage

# default salt fan-out for the dominant-language skew (FIXTURES.md §3.12:
# ~70% of rows are 'en'); bounds the biggest write partition to
# ~total/SALT_BUCKETS instead of ~total*0.7
DEFAULT_SALT_BUCKETS = 16


def audio_gate_columns(
    clips: DataFrame, extra: tuple[str, ...] = ()
) -> DataFrame:
    """(clip_id, audio_keep, audio_warnings[, *extra]) — the audio-side gate
    (operators/audio_ops.audio_quality: one shared decode pass) with
    its drop reasons rendered as quality_warnings-style strings, so
    the decision surface records WHY a clip's audio failed (the same
    lineage discipline as the transcript annotators; reference
    annotator→drop chain, /root/reference/src/pipelines/oscardoc/
    pipeline.rs:213-226). ``extra`` rides named audio_stats columns
    (afp, frame_energy) along from the same decode pass so the gate's
    decode is never repeated by later dedup/VAD passes."""
    from ungoliant_spark.operators.audio_ops import (
        MAX_SILENCE_RATIO,
        audio_quality,
    )

    aq = audio_quality(clips, extra=extra)
    return aq.select(
        "clip_id",
        "audio_keep",
        *extra,
        F.array_compact(
            F.array(
                F.when(~F.col("decode_ok"), F.lit("audio_undecodable")),
                F.when(F.col("too_quiet"), F.lit("audio_too_quiet")),
                F.when(F.col("clipped"), F.lit("audio_clipped")),
                F.when(
                    F.col("silence_ratio") > MAX_SILENCE_RATIO,
                    F.lit("audio_mostly_silent"),
                ),
            )
        ).alias("audio_warnings"),
    )


def _rate_gate_steps() -> list[tuple[str, Column]]:
    """The speech-rate sanity check as withColumn steps: rate_ok + the
    ``rate_implausible`` reason in quality_warnings (same lineage
    discipline as the audio gate — a rate drop is auditable from the
    decision surface), then rate_ok ANDed into ``keep``."""
    from ungoliant_spark.operators.audio_ops import (
        MAX_TPS,
        MIN_TPS,
        rate_columns,
    )

    _, _, _, ok = rate_columns(MIN_TPS, MAX_TPS)
    # null dur_ms (or 0 → null division) must gate to False, not
    # propagate NULL into the keep decision — same convention as the
    # audio gate's coalesce (ADVICE r7)
    return [
        ("rate_ok", F.coalesce(ok, F.lit(False))),
        (
            "quality_warnings",
            F.when(
                F.col("rate_ok"),
                F.col("quality_warnings"),
            ).otherwise(
                F.array_append("quality_warnings", F.lit("rate_implausible"))
            ),
        ),
        ("keep", F.col("keep") & F.col("rate_ok")),
    ]


class _DecisionPlan:
    """Every input-independent Column of :func:`decide` and
    :func:`run` for one blocklist and gate pair, built once; the
    methods make only the fixed list of DataFrame ops (and the audio
    gate's decode branch, which reads the input itself)."""

    def __init__(
        self,
        term_to_category: dict[str, str] | None,
        audio_gate: bool,
        rate_gate: bool,
    ):
        self.audio_gate = audio_gate
        self.trim = trim_stage()
        # PFilter and the annotators' content, both over the trimmed lines
        self.lines_cols = {
            "pfilter_keep": pfilter_keep(F.col("lines")),
            "content": F.array_join(F.col("lines"), "\n"),
        }
        self.warnings = quality_warnings(F.col("lines"), F.col("content"))
        self.annotation_keep = ~noisy_tiny_drop(F.col("quality_warnings"))
        heur_keep = (
            F.col("trim_keep")
            & F.col("pfilter_keep")
            & F.col("annotation_keep")
        )
        # heuristic drops reach the model node with a NULLED input (O(1)
        # in the UDF) instead of being filtered out before it: a filter
        # below the Python node gets pushed to the scan and re-evaluates
        # the whole interpreted higher-order heuristic chain per row —
        # A/B measured at sf0.1/local[32]: pre-filter 35-118 s vs
        # nulled-input 15-54 s across contention windows. Survivors ship
        # as ONE joined string (see make_model_stage_udf: flat Arrow
        # buffer beats list<string> transport); zero-line survivors also
        # map to NULL, which the model scores identically (lang None).
        model_in = F.when(
            heur_keep & (F.size("lines") > 0),
            F.array_join(F.col("lines"), "\n"),
        )
        self.model = {
            "heuristic_keep": heur_keep,
            "_m": make_model_stage_udf()(model_in),
        }
        lid_keep = F.col("_m.lang").isNotNull()
        self.model_fields = {
            **{c: F.col(f"_m.{c}") for c in MODEL_RESULT_T.fieldNames()},
            "lid_keep": lid_keep,
            "keep": F.col("heuristic_keep") & lid_keep,
        }
        self.gate_steps: list[tuple[str, Column]] = []
        if audio_gate:
            self.gate_steps += [
                ("audio_keep", F.coalesce("audio_keep", F.lit(False))),
                (
                    "quality_warnings",
                    F.concat(
                        "quality_warnings",
                        F.coalesce(
                            "audio_warnings", F.array().cast("array<string>")
                        ),
                    ),
                ),
                ("keep", F.col("keep") & F.col("audio_keep")),
            ]
        if rate_gate:
            self.gate_steps += _rate_gate_steps()
        self.tail = {
            "categories": (
                categories_from_terms(F.col("content"), term_to_category)
                if term_to_category
                else F.lit(None).cast("array<string>")
            ),
            "scrubbed": F.when(F.col("keep"), scrub(F.col("content"))),
            # language bucket for partitioned writes ('multi' and real tags)
            "lang_bucket": F.when(F.col("keep"), F.col("lang")),
        }
        self.keep = F.col("keep")
        self.salt_keys = _salt_keys(DEFAULT_SALT_BUCKETS)
        # audio-gated runs append afp after the stable column set, so
        # the default (ungated) sink schema stays bit-identical
        sink_cols = FINAL_COLUMNS + (
            ["afp", "frame_energy"] if audio_gate else []
        )
        self.sink = [
            F.col("scrubbed").alias("transcript")
            if c == "transcript"
            else F.col(c)
            for c in sink_cols
        ]

    def decide(self, clips: DataFrame) -> DataFrame:
        df = (
            clips.transform(self.trim)
            .withColumns(self.lines_cols)
            .withColumn("quality_warnings", self.warnings)
            .withColumn("annotation_keep", self.annotation_keep)
            .withColumns(self.model)
            .withColumns(self.model_fields)
            .drop("_m")
        )
        if self.audio_gate:
            aq = audio_gate_columns(clips, extra=("afp", "frame_energy"))
            df = df.join(aq, "clip_id", "left")
        for name, col in self.gate_steps:
            df = df.withColumn(name, col)
        if self.audio_gate:
            df = df.drop("audio_warnings")
        return df.withColumns(self.tail)

    def run(self, clips: DataFrame, n_partitions: int | None) -> DataFrame:
        kept = self.decide(clips).filter(self.keep)
        if n_partitions:
            kept = kept.repartition(n_partitions, *self.salt_keys)
        return kept.select(*self.sink)


# SparkContext → {(blocklist, audio_gate, rate_gate): plan}. Keyed by
# the context because the model UDF's JVM side belongs to the context
# that built it; weak, so a stopped context's plans go with it.
_PLANS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_PLANS_LOCK = threading.Lock()


def _memo_plan(
    df: DataFrame,
    term_to_category: dict[str, str] | None,
    audio_gate: bool,
    rate_gate: bool,
) -> _DecisionPlan:
    """The session's one :class:`_DecisionPlan` for this blocklist
    content and gate pair, built on first use."""
    terms = frozenset(term_to_category.items()) if term_to_category else None
    key = (terms, bool(audio_gate), bool(rate_gate))
    with _PLANS_LOCK:
        plans = _PLANS.setdefault(df.sparkSession.sparkContext, {})
        if key not in plans:
            plans[key] = _DecisionPlan(term_to_category, audio_gate, rate_gate)
        return plans[key]


def decide(
    df: DataFrame,
    term_to_category: dict[str, str] | None = None,
    audio_gate: bool = False,
    rate_gate: bool = False,
) -> DataFrame:
    """Compute every pipeline decision column for all input rows — the
    one decision plan (stage order in the module docstring). The model
    cost is paid only for heuristic survivors while decisions stay
    defined for every row (needed for F1 scoring and lineage of drops).
    The plan's Columns are built once per session, blocklist content
    and gate pair (:func:`_memo_plan`); a call makes only the
    DataFrame ops, so a chunk loop does not rebuild the expressions.

    With ``audio_gate`` (opt-in; default off keeps the transcript-only
    decision surface bit-stable) the audio-side gate joins in:
    ``keep`` additionally requires ``audio_keep``, and the audio drop
    reasons are appended to ``quality_warnings`` so the lineage of an
    audio-dropped clip is auditable from the decisions table exactly
    like a transcript drop. The join is an equi-join on clip_id of
    two narrow projections of the same scan — the audio branch ships
    only (clip_id, bytes, codec, sr_hz) through its single decode
    pass; ``bytes`` still never enters the transcript-side Python
    stage. The decode artifacts ``afp`` and ``frame_energy`` ride
    along from the same pass: afp feeds the follow-on acoustic dedup
    passes (--audio-dedup / --ref-fingerprints) and frame_energy
    feeds --vad, so none of them re-decodes the kept corpus.

    With ``rate_gate`` (opt-in; default off keeps the decision
    surface bit-stable) the cross-modal speech-rate sanity check
    joins the decision: ``keep`` additionally requires the
    tokens-per-second rate to sit in the plausible human-speech band
    (audio_ops.MIN_TPS..MAX_TPS over the RAW transcript and stored
    duration — a mismatched upload or machine caption check, so it
    runs BEFORE scrubbing), with ``rate_implausible`` appended to
    quality_warnings. Pure Catalyst over two columns already in the
    row — no join, no decode (audio_ops.rate_columns, the same
    kernel as the speech_rate operator). Reference analog: the
    annotator→drop chain, /root/reference/src/pipelines/oscardoc/
    pipeline.rs:213-226.
    """
    return _memo_plan(df, term_to_category, audio_gate, rate_gate).decide(df)


FINAL_COLUMNS = [
    "clip_id",
    "bytes",
    "sr_hz",
    "dur_ms",
    "codec",
    "transcript",
    "lang",
    "lang_prob",
    "sentence_langs",
    "quality_warnings",
    "categories",
    "harmful_pp",
    "tlsh",
    "line_start",
    "line_end",
    "lang_bucket",
]


def _salt_keys(salt_buckets: int) -> list[Column]:
    return [
        F.col("lang_bucket"),
        F.pmod(F.xxhash64(F.col("clip_id")), F.lit(salt_buckets)),
    ]


def salted_repartition(
    df: DataFrame, n_partitions: int, salt_buckets: int = DEFAULT_SALT_BUCKETS
) -> DataFrame:
    """repartition(lang_bucket, salt) — the sort_by_lang analog
    (pipeline.rs:313-326) with skew salting (SURVEY.md §4.4): one
    dominant language would otherwise serialize into one task. AQE
    skew handling only applies to joins, hence the manual salt."""
    return df.repartition(n_partitions, *_salt_keys(salt_buckets))


def run(
    clips: DataFrame,
    term_to_category: dict[str, str] | None = None,
    n_partitions: int | None = None,
    audio_gate: bool = False,
    rate_gate: bool = False,
) -> DataFrame:
    """Production plan: :func:`decide` → filter(keep) → salted
    repartition (:func:`salted_repartition`) → sink columns.

    The model UDF is marked nondeterministic (operators/model_stage.py),
    so Catalyst pushes the keep filter down to directly above the one
    ArrowEvalPython node but never below or into it: the audio
    ``bytes`` column crosses the JVM row queue exactly once, and
    blocklist/scrub run on kept rows only."""
    plan = _memo_plan(clips, term_to_category, audio_gate, rate_gate)
    return plan.run(clips, n_partitions)
