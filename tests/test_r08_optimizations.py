"""Focused pins for the round-8 optimization changes: the operators'
INTERNALS changed (single-eval let-bindings, filter-before-dedup in
the banded join, reverse-label propagation messages, input-table
persists), so each rewrite gets a gate proving the rewritten form is
observably identical / still correct on inputs the driver fixture
does not cover."""

from __future__ import annotations

import collections
import random
import string

import numpy as np
from pyspark.sql import functions as F

from ungoliant_spark.operators import dedup as dd


def test_let_binding_is_value_identical(spark):
    """let_(x, f) must equal f(x) exactly — including null
    propagation and float semantics — for scalar and array values."""
    df = spark.createDataFrame(
        [("a b  c", 7.0), ("", 0.0), (None, None)],
        "text string, x double",
    )
    toks = dd.tokens_of(F.col("text"))
    bound = dd.let_(toks, lambda t: F.size(t) * 2 + F.size(t))
    inline = F.size(toks) * 2 + F.size(toks)
    rows = df.select(
        bound.alias("b"),
        inline.alias("i"),
        dd.let_(F.col("x"), lambda v: v / 3.0).alias("bx"),
        (F.col("x") / 3.0).alias("ix"),
    ).collect()
    for r in rows:
        assert r["b"] == r["i"]
        assert r["bx"] == r["ix"]


def test_components_on_random_graph_match_bfs(spark, monkeypatch):
    """near_dup_components (with the r8 reverse-label messages) must
    produce exactly the BFS ground-truth component minima on a random
    graph — the driver fixture's graph is small and band-structured,
    so this pins the propagation operator on an adversarial shape.
    Forces the DISTRIBUTED loop: the driver union-find fast path
    would otherwise absorb a graph this small."""
    monkeypatch.setattr(dd, "DRIVER_CC_MAX_EDGES", -1)
    random.seed(7)
    edges = [
        (random.randrange(2000), random.randrange(2000))
        for _ in range(1500)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    nodes = spark.range(2000).select(F.col("id").alias("doc_id"))
    got = {
        r["doc_id"]: r["component_rep"]
        for r in dd.near_dup_components(nodes, pairs).collect()
    }
    adj = collections.defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    seen: set[int] = set()
    for s in list(adj):
        if s in seen:
            continue
        stack, comp = [s], set()
        while stack:
            v = stack.pop()
            if v in comp:
                continue
            comp.add(v)
            stack.extend(adj[v] - comp)
        seen |= comp
        m = min(comp)
        assert all(got[v] == m for v in comp)
    # untouched nodes are their own singleton component
    assert all(got[v] == v for v in range(2000) if v not in seen)


def test_components_on_path_graph(spark, monkeypatch):
    """A 300-node path is the diameter-adversarial case for label
    propagation — must converge (within max_iterations) to one
    component labeled by the global min. Forces the distributed
    loop (the fast path would absorb a 299-edge graph)."""
    monkeypatch.setattr(dd, "DRIVER_CC_MAX_EDGES", -1)
    pairs = spark.range(299).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    nodes = spark.range(300).select(F.col("id").alias("doc_id"))
    out = dd.near_dup_components(nodes, pairs)
    assert out.filter(F.col("component_rep") != 0).count() == 0


def test_driver_cc_fast_path_matches_distributed(spark, monkeypatch):
    """r8: graphs at or below DRIVER_CC_MAX_EDGES edge rows are solved
    with a driver-side union-find instead of the propagation loop
    (the CC analogue of AQE's broadcast-join conversion). The two
    paths must produce IDENTICAL (id, component_rep) labelings —
    for long ids and for string ids (Spark's UTF8_BINARY min is
    byte-order == code-point order == Python's str min). Also pins
    that the fast path is actually taken below the cap and skipped
    above it."""
    random.seed(13)
    raw = [
        (random.randrange(500), random.randrange(500)) for _ in range(400)
    ]
    raw = [(a, b) for a, b in raw if a != b]
    cases = [
        (lambda x: x, "long"),
        # zero-padded so lexicographic == numeric; plus a non-padded
        # id set where the two orders DIFFER, the real string case
        (lambda x: f"c{x:03d}", "string"),
        (lambda x: f"c{x}", "string"),
    ]
    true_orig = dd._driver_components
    for to_id, typ in cases:
        pairs = spark.createDataFrame(
            [(to_id(a), to_id(b)) for a, b in raw],
            f"id_a {typ}, id_b {typ}",
        )
        nodes = spark.createDataFrame(
            [(to_id(i),) for i in range(500)], f"doc_id {typ}"
        )
        calls: list[int] = []

        def counted(edge_iter, _orig=true_orig, _calls=calls):
            _calls.append(1)
            return _orig(edge_iter)

        monkeypatch.setattr(dd, "_driver_components", counted)
        monkeypatch.setattr(dd, "DRIVER_CC_MAX_EDGES", 1_000_000)
        fast = {
            r["doc_id"]: r["component_rep"]
            for r in dd.near_dup_components(nodes, pairs).collect()
        }
        assert calls, "fast path not taken below the cap"
        monkeypatch.setattr(dd, "DRIVER_CC_MAX_EDGES", -1)
        calls.clear()
        dist = {
            r["doc_id"]: r["component_rep"]
            for r in dd.near_dup_components(nodes, pairs).collect()
        }
        assert not calls, "fast path taken above the cap"
        assert fast == dist


def test_driver_cc_empty_edges(spark):
    """Zero near-dup pairs (a perfectly deduped corpus slice) must
    yield all-singleton components through the fast path's empty
    label table."""
    nodes = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["doc_id"]: r["component_rep"]
        for r in dd.near_dup_components(nodes, pairs).collect()
    }
    assert got == {i: i for i in range(5)}


def test_null_id_edge_same_labels_on_both_cc_paths(spark, monkeypatch):
    """An edge with a null endpoint names no node: the local
    union-find and the distributed loop must both ignore it and
    return the same labels (the union-find used to raise TypeError
    ordering None against a clip id)."""
    nodes = spark.createDataFrame(
        [(c,) for c in "abcde"] + [(None,)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("a", "b"), (None, "d"), ("c", "b")], "id_a string, id_b string"
    )
    got = []
    for cap in (1_000_000, -1):
        monkeypatch.setattr(dd, "DRIVER_CC_MAX_EDGES", cap)
        got.append({
            r["doc_id"]: r["component_rep"]
            for r in dd.near_dup_components(nodes, pairs).collect()
        })
    assert got[0] == got[1]
    assert got[0] == {
        "a": "a", "b": "a", "c": "a", "d": "d", "e": "e", None: None
    }


def test_arpa_fast_path_equals_recursive_scorer():
    """perplexity()'s int-packed order-3 fast path must equal the
    tuple-keyed recursive scorer (_perplexity_generic → logprob) to
    the last float bit — key representation is the ONLY thing the r8
    rewrite changed. Adversarial strings: OOV runs, literal <s>/</s>/
    <unk> tokens mid-sentence, empty/whitespace-only input, repeated
    n-grams (memo reuse path)."""
    from ungoliant_spark.arpa import load_model

    rng = random.Random(11)
    words = ["the", "a", "dog", "zzq", "<s>", "</s>", "<unk>", "word"]
    cases = [
        "",
        " ",
        "<s>",
        "</s> </s>",
        "<unk> zzz <unk>",
        "totally unknown tokens only",
        "the the the the the the",
    ]
    cases += [
        " ".join(rng.choice(words) for _ in range(rng.randint(1, 40)))
        for _ in range(300)
    ]
    for lang in ("en", "fr", "multi"):
        m = load_model(lang)
        assert m is not None and m.order == 3
        for s in cases:
            fast = m.perplexity(s)
            slow = m._perplexity_generic(s)
            assert fast == slow or (fast != fast and slow != slow), (
                lang,
                s,
                fast,
                slow,
            )


def test_lid_bulk_token_vecs_equal_scalar():
    """_token_vecs_bulk's r8 vectorized lanes (width-bucketed ASCII
    ngram scan, reduceat segment sums, non-ASCII per-ngram path,
    >62-byte scalar fallback) must produce byte-identical (vec, count)
    to the scalar _token_vec for every token shape, including the
    bucket boundary lengths."""
    from ungoliant_spark.lid_model import LidModel

    bulk = LidModel.load()
    scalar = LidModel.load()
    rng = random.Random(13)
    toks = ["a", "ab", "café", "naïve", "日本語",
            "x" * 62, "x" * 63, "y" * 200]
    # bucket boundaries: padded widths 8/16/32/64 ↔ token lengths 6/14/30/62
    for L in (5, 6, 7, 13, 14, 15, 29, 30, 31, 61, 62):
        toks.append("".join(rng.choice(string.ascii_letters) for _ in range(L)))
    for _ in range(400):
        alpha = string.ascii_letters + "äöüßé"
        toks.append(
            "".join(rng.choice(alpha) for _ in range(rng.randint(1, 16)))
        )
    toks = list(dict.fromkeys(toks))
    V, C = bulk._token_vecs_bulk(toks)
    for i, t in enumerate(toks):
        vec, cnt = scalar._token_vec(t)
        assert cnt == C[i], t
        assert np.array_equal(vec, V[i]), t


def test_ann_dimension_guard(spark):
    """A corpus whose embedding dimension does not match the LSH plane
    tables must raise loudly instead of silently bucketing on the
    first DIM components (round-7 verdict "what's wrong" #1); a
    custom tables= of the right dimension must keep working."""
    import pytest

    from ungoliant_spark.operators import similarity as sim

    rng = random.Random(3)
    rows = [
        (i, [rng.gauss(0.0, 1.0) for _ in range(32)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.limit(3)
    with pytest.raises(Exception, match="64-dim.*32 dims"):
        sim.ann_lsh_topk(df, q).collect()
    tables32 = [
        [[rng.gauss(0.0, 1.0) for _ in range(32)] for _ in range(4)]
        for _ in range(4)
    ]
    out = sim.ann_lsh_topk(df, q, tables=tables32, n_extra_probes=2)
    assert out.count() > 0
    # the corpus-side keying path too
    with pytest.raises(Exception, match="64-dim.*32 dims"):
        sim.embedding_near_dup_pairs(df, threshold=0.5).collect()


def _skewed_words():
    """300 words sharing one base word, each 0..5 random bit flips
    away: heavy chunk skew (many words share chunks without being
    near-dups — the case that produced 21.7M collision rows at
    sf0.1)."""
    rng = random.Random(3)
    words = []
    base = 0x0123456789ABCD
    for i in range(300):
        w = base
        for _ in range(rng.randrange(0, 6)):  # 0..5 bit flips
            w ^= 1 << rng.randrange(63)
        words.append((f"id{i:03d}", w))
    return words


def _hamming(x, y):
    return bin(x ^ y).count("1")


def test_hamming_pairs_filter_first_equals_naive(spark):
    """The r8 rewrite filters Hamming inside the band join (before
    the de-duplicating exchange). Pin against a naive all-pairs
    bit_count join on the skewed-chunk table."""
    words = _skewed_words()
    hashed = spark.createDataFrame(words, "clip_id string, h long")
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dd.hamming_pairs(hashed, "h", "clip_id").collect()
    }
    dd.unpersist_group_tables()
    naive = set()
    for i, (ida, wa) in enumerate(words):
        for idb, wb in words[i + 1:]:
            d = _hamming(wa, wb)
            if d <= 3:
                a, b = min(ida, idb), max(ida, idb)
                naive.add((a, b, d))
    assert got == naive


def test_hamming_components_on_skewed_chunks_equal_union_find(spark):
    """hamming_components runs the same band join at the rep level;
    its labels must equal a union-find (component minimum) over the
    naive all-pairs Hamming ≤ 3 edges of the skewed-chunk table."""
    words = _skewed_words()
    hashed = spark.createDataFrame(words, "clip_id string, h long")
    with dd.group_cache_scope():
        got = {
            r["clip_id"]: r["component_rep"]
            for r in dd.hamming_components(hashed, "h", "clip_id").collect()
        }
    parent = {i: i for i, _ in words}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for i, (ida, wa) in enumerate(words):
        for idb, wb in words[i + 1:]:
            if _hamming(wa, wb) <= 3:
                ra, rb = sorted((find(ida), find(idb)))
                parent[rb] = ra
    assert got == {i: find(i) for i, _ in words}


def test_hamming_matches_on_skewed_chunks_equal_naive(spark):
    """hamming_matches keeps its own bipartite band join: split the
    skewed-chunk table into probe and reference halves; dup_of_ref
    must be the naive minimum reference id within 3 bits (and
    ref_hash that reference's word)."""
    words = _skewed_words()
    probe, ref = words[::2], words[1::2]
    got = {
        r["h"]: (r["dup_of_ref"], r["ref_hash"])
        for r in dd.hamming_matches(
            spark.createDataFrame(probe, "clip_id string, h long"),
            spark.createDataFrame(ref, "clip_id string, h long"),
            "h",
            "clip_id",
        ).collect()
    }
    naive = {}
    for _, wp in probe:
        near = [(rid, wr) for rid, wr in ref if _hamming(wp, wr) <= 3]
        if near:
            naive[wp] = min(near)
    assert got == naive
