"""Model/blocklist ingestion fidelity: KenLM-style binary-over-arpa
preference (lru.rs:86-91) and UT1 blocklist-directory parsing
(content_detector.rs:26-64)."""

from __future__ import annotations

import os

import pytest

from ungoliant_spark.arpa import (
    ArpaModel,
    compile_binary,
    load_model,
    model_path,
)
from ungoliant_spark.operators.blocklist import load_ut1_dir


def test_binary_model_roundtrip(tmp_path):
    src = model_path("en")
    bin_path = str(tmp_path / "en.binary")
    compile_binary(src, bin_path)
    text = ArpaModel.load_arpa(src)
    binm = ArpaModel.load_binary(bin_path)
    assert binm.model == text.model
    sample = "the fast key order sort table scan"
    assert binm.perplexity(sample) == text.perplexity(sample)


def test_load_model_prefers_binary(tmp_path):
    import shutil

    shutil.copy(model_path("en"), tmp_path / "xx.arpa")
    # binary with DIFFERENT content proves which artifact was loaded
    compile_binary(model_path("fr"), str(tmp_path / "xx.binary"))
    m = load_model("xx", str(tmp_path))
    assert m.model == ArpaModel.load_arpa(model_path("fr")).model
    # missing language → None
    assert load_model("zz", str(tmp_path)) is None


def test_load_model_compiles_binary_beside_arpa(tmp_path):
    import shutil

    shutil.copy(model_path("en"), tmp_path / "en.arpa")
    m = load_model("en", str(tmp_path))
    assert os.path.exists(tmp_path / "en.binary")  # compiled for next time
    assert m.model == ArpaModel.load_arpa(model_path("en")).model


def test_bad_binary_magic_rejected(tmp_path):
    p = tmp_path / "bad.binary"
    p.write_bytes(b"NOTMAGIC" + b"\x00" * 16)
    with pytest.raises(ValueError, match="USARPA2"):
        ArpaModel.load_binary(str(p))


def test_binary_is_data_only_no_pickle(tmp_path):
    """The .binary payload must be a data format (JSON), never pickle:
    loading an attacker-supplied model file must not execute code."""
    import json

    from ungoliant_spark.arpa import BINARY_MAGIC

    bin_path = str(tmp_path / "en.binary")
    compile_binary(model_path("en"), bin_path)
    raw = open(bin_path, "rb").read()
    assert raw.startswith(BINARY_MAGIC)
    json.loads(raw[len(BINARY_MAGIC):])  # parses as plain JSON


def test_corrupt_binary_falls_back_to_arpa(tmp_path):
    """A stale-format or torn .binary must not fail tasks persistently
    (ADVICE r2): load_model recompiles from the .arpa beside it."""
    import shutil

    shutil.copy(model_path("en"), tmp_path / "en.arpa")
    # old pickle-era artifact / torn write: wrong magic + garbage
    (tmp_path / "en.binary").write_bytes(b"USARPA1\n\x80\x04garbage")
    m = load_model("en", str(tmp_path))
    assert m is not None
    assert m.model == ArpaModel.load_arpa(model_path("en")).model
    # and the bad artifact was replaced by a loadable one
    assert ArpaModel.load_binary(str(tmp_path / "en.binary")).model == m.model


def test_corrupt_binary_without_arpa_raises(tmp_path):
    """ADVICE r3: a DEPLOYED .binary that fails to load with no .arpa
    to recompile from must raise — returning None would silently
    disable the perplexity filter for that language."""
    (tmp_path / "xx.binary").write_bytes(b"USARPA1\n\x80\x04garbage")
    with pytest.raises(ValueError, match="corrupt ARPA binary"):
        load_model("xx", str(tmp_path))
    # a language with NO artifacts at all still means "no model
    # configured" — that is not an error
    assert load_model("yy", str(tmp_path)) is None


def test_concurrent_compile_binary_is_safe(tmp_path):
    """Many UDF workers compiling the same .binary concurrently must
    each publish a complete artifact (unique mkstemp + atomic rename);
    readers never see a torn file (ADVICE r2)."""
    import threading

    bin_path = str(tmp_path / "en.binary")
    errs = []

    def worker():
        try:
            compile_binary(model_path("en"), bin_path)
            ArpaModel.load_binary(bin_path)
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert ArpaModel.load_binary(bin_path).model == ArpaModel.load_arpa(
        model_path("en")
    ).model
    # no leaked temp files
    leftovers = [p for p in os.listdir(tmp_path) if p.startswith(".arpa-bin-")]
    assert leftovers == []


def test_ut1_dir_parsing(tmp_path, spark):
    (tmp_path / "adult").mkdir()
    (tmp_path / "adult" / "domains").write_text(
        "badsite.example\n# comment\n\nBADWORD001\n"
    )
    (tmp_path / "adult" / "terms").write_text("badword002\n")
    (tmp_path / "gambling").mkdir()
    (tmp_path / "gambling" / "urls").write_text("casino.example/promo\n")
    (tmp_path / "gambling" / "expressions").write_text("jackpot\n")
    (tmp_path / "README").write_text("not a category dir\n")

    got = load_ut1_dir(str(tmp_path))
    assert got == {
        "badsite.example": "adult",
        "badword001": "adult",  # lowercased
        "badword002": "adult",
        "casino.example/promo": "gambling",
        "jackpot": "gambling",
    }

    # drop-in with the existing operator
    from pyspark.sql import functions as F

    from ungoliant_spark.operators.blocklist import apply_blocklist

    df = spark.createDataFrame(
        [(1, "hit the jackpot today"), (2, "clean text"),
         (3, "contains badword001 and badword002")],
        "clip_id long, content string",
    )
    rows = {r["clip_id"]: r["categories"]
            for r in apply_blocklist(df, got).collect()}
    assert rows[1] == ["gambling"]
    assert rows[2] is None
    assert rows[3] == ["adult"]


def _categories_per_term(content, term_to_category):
    """The form categories_from_terms replaced, kept as its reference:
    the map and the term array built from one literal per term."""
    from pyspark.sql import functions as F

    from ungoliant_spark.operators.blocklist import tokens_of

    terms = sorted(term_to_category)
    term_arr = F.array(*[F.lit(t) for t in terms])
    cat_map = F.map_from_arrays(
        F.array(*[F.lit(t) for t in terms]),
        F.array(*[F.lit(term_to_category[t]) for t in terms]),
    )
    hits = F.array_intersect(tokens_of(content), term_arr)
    cats = F.array_sort(
        F.array_distinct(F.transform(hits, lambda t: cat_map[t]))
    )
    return F.when(F.size(cats) > 0, cats)


def _both_forms(df, term_to_category):
    from pyspark.sql import functions as F

    from ungoliant_spark.operators.blocklist import categories_from_terms

    return df.select(
        "clip_id",
        categories_from_terms(F.col("content"), term_to_category).alias("new"),
        _categories_per_term(F.col("content"), term_to_category).alias("old"),
    ).collect()


def test_constant_map_matches_per_term_form_on_fixture(spark):
    from ungoliant_spark.sources.fixtures import (
        ADULT_CATEGORY,
        ADULT_TERMS,
        generate,
    )

    terms = {t: ADULT_CATEGORY for t in ADULT_TERMS}
    clips = spark.read.parquet(f"{generate(0.001)}/clips.parquet")
    rows = _both_forms(
        clips.select("clip_id", clips.transcript.alias("content")), terms
    )
    assert all(r.new == r.old for r in rows)
    assert sum(r.new is not None for r in rows) > 0


def test_constant_map_matches_per_term_form_at_10k_terms(spark):
    terms = {f"term{i:05d}": f"cat{i % 7}" for i in range(10_000)}
    planted = {
        1: ("term00000 and Term09999, again term00007", ["cat0", "cat3"]),
        2: ("nothing listed here, term10000 is not a term", None),
        3: ("x term04246-term00001 y", ["cat1", "cat4"]),
        4: ("", None),
    }
    df = spark.createDataFrame(
        [(k, text) for k, (text, _) in planted.items()],
        "clip_id long, content string",
    )
    rows = _both_forms(df, terms)
    assert {r.clip_id: r.new for r in rows} == {
        k: want for k, (_, want) in planted.items()
    }
    assert all(r.new == r.old for r in rows)
