"""The decision plan's Columns are built once per session: builds that
reuse them equal fresh builds row for row, each blocklist content and
gate pair gets its own plan, and a warm build's driver work (py4j
round trips) is bounded and does not grow with the blocklist."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from ungoliant_spark.operators.blocklist import categories_from_terms
from ungoliant_spark.plans import pipeline
from ungoliant_spark.plans.pipeline import FINAL_COLUMNS, decide, run
from ungoliant_spark.sources.fixtures import (
    ADULT_CATEGORY,
    ADULT_TERMS,
    generate,
)

TERM_MAP = {t: ADULT_CATEGORY for t in ADULT_TERMS}
# the fixture's terms plus fillers up to 10,000 terms
BIG_TERM_MAP = {
    **TERM_MAP,
    **{f"zzfiller{i:05d}": "filler" for i in range(10_000 - len(TERM_MAP))},
}
# above a warm run() build's round trips, below what the per-term
# blocklist literals (351 for the 100-term list) or an unmemoized
# build (about 3,600) would add
MAX_WARM_BUILD_CALLS = 400


@pytest.fixture(scope="module")
def shards(spark, tmp_path_factory):
    """The sf0.001 clips as four parquet shards."""
    out = str(tmp_path_factory.mktemp("shards") / "clips")
    spark.read.parquet(f"{generate(0.001)}/clips.parquet").repartition(
        4, "clip_id"
    ).write.parquet(out)
    return sorted(glob.glob(os.path.join(out, "*.parquet")))


def _rows(df):
    """FINAL_COLUMNS rows by clip_id, the audio as its digest."""
    cols = [
        F.sha2("bytes", 256).alias("bytes") if c == "bytes" else c
        for c in FINAL_COLUMNS
    ]
    return sorted(df.select(*cols).collect(), key=lambda r: r.clip_id)


@pytest.mark.parametrize(
    "audio_gate,rate_gate",
    [(False, False), (True, False), (False, True), (True, True)],
)
def test_memoized_builds_equal_fresh_builds(spark, shards, audio_gate, rate_gate):
    gates = {"audio_gate": audio_gate, "rate_gate": rate_gate}
    subsets = [spark.read.parquet(*shards[0::2]), spark.read.parquet(*shards[1::2])]
    run(spark.read.parquet(*shards), TERM_MAP, **gates)  # fills the memo
    plan = pipeline._memo_plan(subsets[0], TERM_MAP, audio_gate, rate_gate)
    memoized = [_rows(run(clips, TERM_MAP, 8, **gates)) for clips in subsets]
    assert pipeline._memo_plan(subsets[1], TERM_MAP, audio_gate, rate_gate) is plan
    fresh = []
    for clips in subsets:
        pipeline._PLANS.clear()
        fresh.append(_rows(run(clips, TERM_MAP, 8, **gates)))
    assert all(memoized) and memoized == fresh


def test_each_blocklist_and_gate_pair_gets_its_own_plan(spark, shards):
    clips = spark.read.parquet(shards[0])

    def plan(terms, audio_gate=False, rate_gate=False):
        return pipeline._memo_plan(clips, terms, audio_gate, rate_gate)

    base = plan(TERM_MAP)
    # the same content in another order is the same blocklist
    assert plan(dict(reversed(list(TERM_MAP.items())))) is base
    others = [
        plan(TERM_MAP, True, False),
        plan(TERM_MAP, False, True),
        plan(TERM_MAP, True, True),
        plan(None),
        plan({**TERM_MAP, "extra": ADULT_CATEGORY}),
        plan({t: "other" for t in TERM_MAP}),
    ]
    assert len({id(p) for p in [base, *others]}) == 1 + len(others)
    # a build under another blocklist answers to that blocklist
    for terms, want in ((TERM_MAP, ADULT_CATEGORY), ({t: "other" for t in TERM_MAP}, "other")):
        got = (
            decide(clips, terms)
            .select(F.explode("categories").alias("c"))
            .distinct()
            .collect()
        )
        assert [r.c for r in got] == [want]


def test_warm_build_round_trips_bounded_and_blocklist_free(spark, shards, monkeypatch):
    """Driver work of a second run() build in one session, counted as
    py4j commands (the JVM's garbage-collection notices excluded: they
    follow Python's object lifetimes, not the build)."""
    clips = spark.read.parquet(shards[0])
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    counted = []

    def counting_send(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            counted.append(command)
        return send(command, *args, **kwargs)

    calls, map_calls = {}, {}
    for name, terms in (("100", TERM_MAP), ("10k", BIG_TERM_MAP)):
        run(clips, terms, 8)
        monkeypatch.setattr(client, "send_command", counting_send)
        run(clips, terms, 8)
        calls[name] = len(counted)
        counted.clear()
        # the blocklist expression itself, as a cold build makes it
        categories_from_terms(F.col("content"), terms)
        map_calls[name] = len(counted)
        counted.clear()
        monkeypatch.undo()
    assert calls["100"] == calls["10k"], calls
    assert calls["100"] < MAX_WARM_BUILD_CALLS, calls
    assert map_calls["100"] == map_calls["10k"], map_calls
