"""Span queries: kernel semantics vs the reference's documented behavior
(span_near.rs) and engine↔oracle float32 bit parity on the webtext corpus."""

import numpy as np
import pytest
from conftest import exhaustive_topk

from rucene_spark.build import IndexWriter
from rucene_spark.oracle import OracleSearcher, build_oracle_index
from rucene_spark.query import (
    SpanGapQuery,
    SpanNearQuery,
    SpanOrQuery,
    SpanTermQuery,
)
from rucene_spark.search import IndexSearcher
from rucene_spark.spans import (
    ordered_near_spans,
    span_freq,
    term_spans,
    unordered_near_spans,
)
from rucene_spark.webtext import make_corpus, term_df_spectrum


# ---------------------------------------------------------------------------
# kernel semantics
# ---------------------------------------------------------------------------


def test_ordered_overlap_example_from_reference():
    """span_near.rs:714-722: querying (t1 t2 t3) with slop >= 1 over
    't1 t2 t1 t3 t2 t3' matches twice."""
    c1 = term_spans([0, 2])
    c2 = term_spans([1, 4])
    c3 = term_spans([3, 5])
    out = ordered_near_spans([c1, c2, c3], slop=1)
    assert out == [(0, 4, 1), (2, 6, 1)]
    assert ordered_near_spans([term_spans([0, 2]), term_spans([1, 4]),
                               term_spans([3, 5])], slop=0) == []


def test_ordered_requires_order():
    # "b a": ordered (a, b) cannot match; unordered can
    a, b = term_spans([1]), term_spans([0])
    assert ordered_near_spans([a, b], slop=10) == []
    out = unordered_near_spans([a, b], slop=0)
    assert len(out) == 1
    s, e, w = out[0]
    assert (s, e) == (0, 2)


def test_unordered_slop_math():
    # doc: a . . b  → max_end(4) - min_start(0) - lengths(2) = 2
    a, b = term_spans([0]), term_spans([3])
    assert unordered_near_spans([a, b], slop=1) == []
    out = unordered_near_spans([a, b], slop=2)
    assert out == [(0, 4, 3)]  # width = start(max_end_cell) - min_start


def test_gap_consumes_positions():
    # near(a, gap(1), b) slop 0 over "a x b"
    a, b = term_spans([0]), term_spans([2])
    out = ordered_near_spans([a, ("gap", 1), b], slop=0)
    assert out == [(0, 3, 0)]
    # without the gap the same pattern needs slop 1
    assert ordered_near_spans([a, b], slop=0) == []
    assert ordered_near_spans([a, b], slop=1) == [(0, 3, 1)]


def test_span_freq_f32_accumulation():
    pos_map = {0: np.array([0, 10]), 1: np.array([2, 11])}
    spec = ("near", [("term", 0), ("term", 1)], 2, True)
    f = span_freq(spec, pos_map)
    want = np.float32(np.float32(1.0 / 2.0) + np.float32(1.0 / 1.0))
    assert np.float32(f).view(np.int32) == want.view(np.int32)


def test_or_union_and_nested_near():
    pos_map = {0: [0], 1: [5], 2: [6]}
    spec = ("near",
            [("or", [("term", 0), ("term", 1)]), ("term", 2)], 0, True)
    # or-spans at 0 and 5; term 2 at 6 → only the 5-branch matches
    out_freq = span_freq(spec, {k: np.asarray(v) for k, v in pos_map.items()})
    assert float(out_freq) == 1.0


def _random_spec(rng, n_terms, depth=0):
    """A random span spec over term ids ``0..n_terms-1``: terms, ors and
    ordered/unordered nears nested up to two deep; gaps only inside
    ordered nears, never first."""
    r = rng.random()
    if depth == 2 or r < 0.35:
        return ("term", int(rng.integers(0, n_terms)))
    if r < 0.5:
        return ("or", [_random_spec(rng, n_terms, depth + 1)
                       for _ in range(int(rng.integers(1, 4)))])
    ordered = bool(rng.random() < 0.6)
    subs = [_random_spec(rng, n_terms, depth + 1)
            for _ in range(int(rng.integers(2, 5)))]
    if ordered and rng.random() < 0.3:
        subs.insert(int(rng.integers(1, len(subs) + 1)),
                    ("gap", int(rng.integers(0, 3))))
    return ("near", subs, int(rng.integers(0, 6)), ordered)


def _spec_terms(spec) -> list:
    if spec[0] == "term":
        return [spec[1]]
    return [] if spec[0] == "gap" else [
        t for s in spec[1] for t in _spec_terms(s)]


def test_span_positional_topk_property():
    """Randomized kernel-level parity of the span leaf, the span
    analogue of test_phrase_seg_topk_property: term/or/gap/ordered/
    unordered/nested specs (ordered nears over one term twice among
    them), terms absent from the segment, tombstones, both scoring
    modes, k in {None, 1..11} and chunk sizes that force many θ-stop
    rounds — the pruned top-k must equal a brute force that scores
    every live doc's span_freq."""
    from functools import partial

    from test_phrase_collector import _make_tds

    from rucene_spark.search import (
        _positional_topk,
        _span_count_bound,
        _span_freqs,
    )

    K1, B = 1.2, 0.75
    rng = np.random.default_rng(7)
    cache = rng.random(256).astype(np.float32) * 3 + 0.2
    wk32, coef64, avgdl64 = np.float32(1.7), 2.5, 15.0
    for trial in range(80):
        n_docs = int(rng.integers(5, 300))
        n_terms = int(rng.integers(1, 4))
        tds, truth, texts = _make_tds(n_docs, n_terms, seed=100 + trial)
        if trial % 4 == 0:
            t0 = int(rng.integers(0, n_terms))
            spec = ("near", [("term", t0), ("gap", 1), ("term", t0),
                             ("term", int(rng.integers(0, n_terms)))],
                    int(rng.integers(0, 6)), True)
        else:
            spec = _random_spec(rng, n_terms)
        terms = sorted(set(_spec_terms(spec)))
        if spec[0] == "near":
            groups = [sorted(set(_spec_terms(c))) for c in spec[1]
                      if c[0] != "gap"]
        else:
            groups = [terms]
        # a term can be absent from the segment
        seg_tds = {ti: tds[ti] for ti in terms
                   if len(tds[ti]["docs"]) and rng.random() < 0.9}
        tomb = None
        if trial % 3 == 0:
            tomb = np.sort(rng.choice(n_docs, size=min(5, n_docs),
                                      replace=False)).astype(np.int64)
        lucene = bool(trial % 2)
        want = {}
        for d in range(n_docs):
            if tomb is not None and d in tomb:
                continue
            fr = span_freq(spec, {ti: truth[ti][d] for ti in seg_tds
                                  if d in truth[ti]})
            if fr <= 0:
                continue
            if lucene:
                want[d] = float((wk32 * fr)
                                / (fr + cache[(d * 37) % 256]))
            else:
                want[d] = coef64 * float(fr) / (float(fr) + K1 * (
                    (1.0 - B) + B * len(texts[d]) / avgdl64))
        ranked = sorted(want, key=lambda d: (-want[d], d))
        for k in [None] + list(range(1, 12)):
            for chunk0 in (1, 7, 4096):
                dv, sv = _positional_topk(
                    seg_tds, groups, tomb, k, chunk0,
                    (lucene, wk32, cache, coef64, K1, B, avgdl64),
                    partial(_span_count_bound, spec),
                    partial(_span_freqs, spec))
                assert list(zip(dv.tolist(), sv.tolist())) == [
                    (d, want[d]) for d in ranked[:k]], (
                    trial, spec, k, chunk0, lucene)


# ---------------------------------------------------------------------------
# engine ↔ oracle parity
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(300, seed=5)


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("span_idx"))
    IndexWriter(spark, d, n_segments=3, key_col="url").build(
        spark.createDataFrame(corpus.drop(columns=["html"])))
    return d


@pytest.fixture(scope="module")
def oracle(corpus):
    idx = build_oracle_index(corpus, n_segments=3)
    return OracleSearcher(idx)


def test_span_queries_rank_identical(spark, corpus, built, oracle):
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    hi, hi2 = plain[0], plain[1]
    mid = plain[len(plain) // 3]
    s = IndexSearcher(spark, built)
    T = SpanTermQuery
    queries = [
        T("text", hi),
        SpanNearQuery([T("text", hi), T("text", mid)], slop=4, in_order=True),
        SpanNearQuery([T("text", hi), T("text", mid)], slop=4, in_order=False),
        SpanNearQuery([T("text", mid), T("text", hi)], slop=8, in_order=True),
        SpanNearQuery([T("text", hi), SpanGapQuery("text", 1), T("text", hi2)],
                      slop=3, in_order=True),
        SpanOrQuery([T("text", hi), T("text", mid)]),
        SpanNearQuery(
            [SpanOrQuery([T("text", hi), T("text", hi2)]), T("text", mid)],
            slop=5, in_order=False),
        # nested near as a clause
        SpanNearQuery(
            [SpanNearQuery([T("text", hi), T("text", hi2)], slop=2,
                           in_order=False), T("text", mid)],
            slop=6, in_order=False),
    ]
    for q in queries:
        eng = [(r["url"], np.float32(r["score"]).view(np.int32).item())
               for r in s.search(q, 10).collect()]
        orc = [(u, np.float32(sc).view(np.int32).item())
               for (u, sc, _) in oracle.search(q, 10)]
        assert eng == orc, (str(q), eng[:3], orc[:3])
    # at least one query must actually produce matches
    q = SpanNearQuery([T("text", hi), T("text", mid)], slop=50, in_order=False)
    assert s.search(q, 10).collect()


def test_span_count_and_unknown_field(spark, built, corpus, oracle):
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    hi, mid = plain[0], plain[len(plain) // 3]
    s = IndexSearcher(spark, built)
    q = SpanNearQuery([SpanTermQuery("text", hi), SpanTermQuery("text", mid)],
                      slop=20, in_order=False)
    assert s.count(q) == oracle.count(q)
    with pytest.raises(ValueError, match="unknown field"):
        s.search(SpanTermQuery("body", hi), 5)


# ---------------------------------------------------------------------------
# vectorized 2-term ordered near (serving fast path)
# ---------------------------------------------------------------------------


def _flat(lists):
    """Per-doc position lists → (concatenated positions, per-doc counts),
    the flat layout the vectorized kernels take."""
    lens = np.array([len(x) for x in lists], dtype=np.int64)
    return np.concatenate(lists).astype(np.int64), lens


def test_ordered_2term_batch_bit_identical_fuzz():
    """ordered_near_freq_2term_flat == scalar span_freq, f32 BIT equality,
    over 400 random docs incl. exhaustion / empty / same-term cases."""
    from rucene_spark.spans import ordered_near_freq_2term_flat

    rng = np.random.default_rng(42)
    for slop in (0, 1, 3, 50):
        lists_a, lists_b, expect = [], [], []
        for _ in range(100):
            na, nb = int(rng.integers(0, 11)), int(rng.integers(0, 11))
            a = np.sort(rng.choice(60, size=na, replace=False)).astype(np.int64)
            b = np.sort(rng.choice(60, size=nb, replace=False)).astype(np.int64)
            if rng.integers(0, 4) == 0:
                b = a.copy()  # same-term-twice shape
            lists_a.append(a)
            lists_b.append(b)
            spec = ("near", [("term", 0), ("term", 1)], slop, True)
            expect.append(np.float32(span_freq(spec, {0: a, 1: b})))
        got = ordered_near_freq_2term_flat(*_flat(lists_a), *_flat(lists_b),
                                           slop)
        assert got.dtype == np.float32
        assert [g.tobytes() for g in got] == [e.tobytes() for e in expect]


def test_ordered_2term_span_exempt_from_cap(spark):
    """The vectorized ordered 2-term span shape runs under a tiny cap
    (like the 2-distinct-term sloppy exemption); unordered stays capped."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="rucene_span_fast_idx_")
    try:
        IndexWriter(spark, d, n_segments=2).build(
            spark.createDataFrame(make_corpus(200, seed=5)))
        dfs = term_df_spectrum(make_corpus(200, seed=5))
        hi = [t for t in dfs.index if dfs[t] >= 20]
        a, b = hi[0], hi[1]
        s = IndexSearcher(spark, d, verify_candidate_cap=1)
        q = SpanNearQuery([SpanTermQuery("text", a), SpanTermQuery("text", b)],
                          slop=4, in_order=True)
        assert s.search(q, 10).count() >= 0  # runs despite cap=1
        qu = SpanNearQuery([SpanTermQuery("text", a), SpanTermQuery("text", b)],
                           slop=4, in_order=False)
        with pytest.raises(ValueError, match="verify_candidate_cap"):
            s.search(qu, 10)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_span_collector_matches_frame_and_deletes(spark, corpus, built,
                                                  oracle, tmp_path):
    """The root span leaf (impact-pruned per-segment top-k) must match
    the exhaustive nested leaf and the oracle bit-for-bit on every shape,
    and deleted docs must neither inflate its impact-ordering θ nor
    appear in results."""
    from rucene_spark.merge import delete_by_keys
    from rucene_spark.query import SpanBoostQuery

    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    hi, hi2 = plain[0], plain[1]
    mid = plain[len(plain) // 3]
    T = SpanTermQuery
    queries = [
        SpanNearQuery([T("text", hi), T("text", mid)], slop=4,
                      in_order=True),
        SpanNearQuery([T("text", hi), T("text", mid)], slop=4,
                      in_order=False),
        SpanBoostQuery(
            SpanNearQuery([T("text", hi), T("text", mid)], slop=8,
                          in_order=True), 2.5),
        SpanOrQuery([T("text", hi), T("text", mid)]),
        SpanNearQuery(
            [SpanOrQuery([T("text", hi), T("text", hi2)]),
             T("text", mid)], slop=5, in_order=False),
    ]
    s = IndexSearcher(spark, built)

    def bits(x):
        return np.float32(x).view(np.int32).item()

    for q in queries:
        rows = s.search(q, 10).collect()
        assert [(r["seg"], r["doc"], bits(r["score"])) for r in rows] == [
            (r.seg, r.doc, bits(r.score))
            for r in exhaustive_topk(s, q, 10)], str(q)
        if not isinstance(q, SpanBoostQuery):  # the oracle has no boost
            assert [(r["url"], bits(r["score"])) for r in rows] == [
                (u, bits(sc)) for u, sc, _ in oracle.search(q, 10)], str(q)

    # deletes: kill the current top-3, re-search through the collector
    d = str(tmp_path / "span_tomb")
    IndexWriter(spark, d, n_segments=3, key_col="url").build(
        spark.createDataFrame(corpus.drop(columns=["html"])))
    q = SpanNearQuery([T("text", hi), T("text", mid)], slop=4,
                      in_order=True)
    s0 = IndexSearcher(spark, d)
    top = s0.search(q, 3).collect()
    delete_by_keys(d, [r["url"] for r in top])
    s1 = IndexSearcher(spark, d)
    kern = s1.search(q, 10).collect()
    assert not {r["url"] for r in top} & {r["url"] for r in kern}
    assert [(r["seg"], r["doc"], r["score"]) for r in kern] == [
        (r.seg, r.doc, r.score) for r in exhaustive_topk(s1, q, 10)]


def test_ordered_2term_flat_equals_list_kernel():
    """The flat-input kernel returns bit-identical freqs to the per-doc
    scalar span kernel, including zero-tf rows and empty batches."""
    from rucene_spark.spans import ordered_near_freq_2term_flat

    rng = np.random.default_rng(11)
    for slop in (0, 2, 9):
        lists_a, lists_b = [], []
        for _ in range(200):
            na, nb = int(rng.integers(0, 11)), int(rng.integers(0, 11))
            lists_a.append(np.sort(rng.choice(
                60, size=na, replace=False)).astype(np.int64))
            lists_b.append(np.sort(rng.choice(
                60, size=nb, replace=False)).astype(np.int64))
        spec = ("near", [("term", 0), ("term", 1)], slop, True)
        want = np.array([span_freq(spec, {0: a, 1: b})
                         for a, b in zip(lists_a, lists_b)],
                        dtype=np.float32)
        got = ordered_near_freq_2term_flat(*_flat(lists_a), *_flat(lists_b),
                                           slop)
        assert got.tobytes() == want.tobytes()
    e = np.empty(0, dtype=np.int64)
    assert len(ordered_near_freq_2term_flat(e, e, e, e, 3)) == 0


def test_nclause_ordered_batch_bit_identical_fuzz():
    """The lockstep n-clause ordered-near kernel must be float32-BIT-
    identical to span_freq for 2..5 term clauses, with and without gap
    clauses (round-4 verdict #2)."""
    from itertools import chain

    from rucene_spark.spans import ordered_near_freq_nclause_flat

    rng = np.random.default_rng(77)
    for _ in range(600):
        S = int(rng.integers(2, 6))
        n = int(rng.integers(1, 25))
        slop = int(rng.integers(0, 8))
        gap_at = int(rng.integers(1, S)) if (rng.random() < 0.3
                                             and S >= 2) else None
        gap_w = int(rng.integers(0, 3))
        pls = [[np.sort(rng.choice(40, size=int(rng.integers(1, 11)),
                                   replace=False)).astype(np.int64)
                for _ in range(n)] for _ in range(S)]
        clauses, subs = [], []
        for s in range(S):
            if gap_at is not None and s == gap_at:
                clauses.append(("gap", gap_w))
                subs.append(("gap", gap_w))
            ln = np.fromiter((len(x) for x in pls[s]), np.int64, n)
            flat = np.fromiter(chain.from_iterable(pls[s]), np.int64,
                               int(ln.sum()))
            clauses.append(("pos", flat, ln))
            subs.append(("term", s))
        got = ordered_near_freq_nclause_flat(clauses, slop)
        spec = ("near", subs, slop, True)
        for i in range(n):
            want = span_freq(spec, {s: pls[s][i] for s in range(S)})
            assert (np.float32(got[i]).view(np.int32)
                    == np.float32(want).view(np.int32)), (
                [pls[s][i].tolist() for s in range(S)], slop, gap_at,
                gap_w, got[i], want)
