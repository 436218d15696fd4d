"""The root phrase leaf (impact-ordered verification with a per-segment
top-k, search.py _positional_topk) must be rank- AND score-identical to
the exhaustive nested leaf (every candidate verified) — pruning is
correctness-neutral by construction, and unlike block-max WAND the
reference has no phrase-impacts analogue to diff against
(phrase_query.rs:223-270 bails only via two-phase match_cost), so this
suite IS the gate that keeps it so."""

import collections
from functools import partial

import numpy as np
import pandas as pd
import pytest
from conftest import exhaustive_topk

from rucene_spark.build import IndexWriter
from rucene_spark.codec import pack_positions
from rucene_spark.merge import delete_by_keys
from rucene_spark.query import BoostQuery, PhraseQuery
from rucene_spark.search import (
    IndexSearcher,
    _phrase_bound,
    _phrase_freqs,
    _positional_topk,
)
from rucene_spark.webtext import make_corpus

K1, B = 1.2, 0.75


def _make_tds(n_docs, n_terms, block=128, tfcap=10, seed=0):
    """Synthetic one-segment postings in the exact per-term structure
    the plan's positional leaf decodes (block-packed pos_bin via the
    real codec), plus the uncompressed truth for the brute oracle."""
    r = np.random.default_rng(seed)
    texts = [list(r.integers(0, n_terms + 3, size=r.integers(3, 40)))
             for _ in range(n_docs)]
    tds, truth = {}, {}
    for ti in range(n_terms):
        posmap = {}
        for d, toks in enumerate(texts):
            ps = [i for i, t in enumerate(toks) if t == ti][:tfcap]
            if ps:
                posmap[d] = np.array(ps, dtype=np.int64)
        truth[ti] = posmap
        docs = np.array(sorted(posmap), dtype=np.int64)
        tfs = np.array([len(posmap[d]) for d in docs], dtype=np.int64)
        counts, pos_bins = [], []
        for s in range(0, len(docs), block):
            e = min(len(docs), s + block)
            counts.append(e - s)
            pos_bins.append(pack_positions(
                np.concatenate([posmap[d] for d in docs[s:e]]), tfs[s:e]))
        counts = np.array(counts, dtype=np.int64)
        tds[ti] = {
            "docs": docs, "tfs": tfs,
            "nbs": np.array([(d * 37) % 256 for d in docs], dtype=np.int64),
            "dls": np.array([len(texts[d]) for d in docs], dtype=np.int64),
            "counts": counts, "blk_ends": np.cumsum(counts),
            "pos_bins": pos_bins,
        }
    return tds, truth, texts


def _brute(truth, texts, slots, tomb, k, lucene, wk32, cache, coef64,
           avgdl64):
    scores = {}
    cand = set.intersection(*[set(truth[ti]) for ti in
                              {ti for ti, _ in slots}])
    if tomb is not None:
        cand -= set(tomb.tolist())
    for d in sorted(cand):
        base = None
        for ti, off in slots:
            s_ = set((truth[ti][d] - off).tolist())
            base = s_ if base is None else base & s_
        fr = len(base)
        if fr == 0:
            continue
        if lucene:
            tff = np.float32(fr)
            scores[d] = float(
                (np.float32(wk32) * tff)
                / (tff + np.float32(cache[(d * 37) % 256])))
        else:
            scores[d] = coef64 * fr / (
                fr + K1 * ((1.0 - B) + B * len(texts[d]) / avgdl64))
    order = sorted(scores, key=lambda d: (-scores[d], d))[:k]
    return [(d, round(scores[d], 9)) for d in order]


def test_phrase_seg_topk_property():
    """Randomized kernel-level parity: repeated terms, gap offsets,
    tombstones, both scoring modes, and chunk sizes that force many
    geometric θ-stop rounds — pruned results must equal the brute-force
    intersection oracle exactly."""
    rng = np.random.default_rng(42)
    cache = (rng.random(256).astype(np.float32) * 3 + 0.2)
    for trial in range(60):
        n_docs = int(rng.integers(5, 400))
        n_terms = int(rng.integers(2, 4))
        tds, truth, texts = _make_tds(n_docs, n_terms, seed=trial)
        n_slots = int(rng.integers(2, 5))
        term_seq = [int(rng.integers(0, n_terms)) for _ in range(n_slots)]
        offsets = sorted(rng.choice(np.arange(0, n_slots + 3),
                                    size=n_slots, replace=False).tolist())
        slots = list(zip(term_seq, offsets))
        tomb = None
        if trial % 3 == 0:
            tomb = np.array(sorted(rng.choice(
                n_docs, size=min(5, n_docs), replace=False).tolist()),
                dtype=np.int64)
        k = int(rng.integers(1, 12))
        lucene = bool(trial % 2)
        wk32, coef64, avgdl64 = np.float32(1.7), 2.5, 15.0
        want = _brute(truth, texts, slots, tomb, k, lucene, wk32, cache,
                      coef64, avgdl64)
        for chunk0 in (1, 7, 4096):
            dv, sv = _positional_topk(
                tds, [[ti] for ti in sorted(set(term_seq))], tomb, k,
                chunk0, (lucene, wk32, cache, coef64, K1, B, avgdl64),
                partial(_phrase_bound, slots, 0),
                partial(_phrase_freqs, slots, 0, None))
            got = [(d, round(s, 9)) for d, s in
                   zip(dv.tolist(), sv.tolist())]
            assert got == want, (trial, slots, k, chunk0, lucene)


@pytest.fixture(scope="module")
def corpus() -> pd.DataFrame:
    return make_corpus(900, seed=11)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("phc_idx"))
    IndexWriter(spark, d, n_segments=4).build(
        spark.createDataFrame(corpus[["url", "text", "lang"]])
    )
    return d


def _phrases(corpus) -> list[list[str]]:
    """Bigram spectrum from the corpus itself: the most common bigram
    (the stopword-pair shape the collector exists for), a mid one, a
    rare one, plus a trigram, a repeated-term phrase, and absent-term
    phrases."""
    big = collections.Counter()
    tri = collections.Counter()
    for text in corpus["text"].head(400):
        w = text.split()
        big.update(zip(w, w[1:]))
        tri.update(zip(w, w[1:], w[2:]))
    ranked = [list(p) for p, _ in big.most_common()]
    common, mid, rare = ranked[0], ranked[len(ranked) // 2], ranked[-1]
    trigram = list(tri.most_common(1)[0][0])
    return [
        common,
        mid,
        rare,
        trigram,
        [common[0], common[1], common[0]],   # repeated term, 2 slots apart
        [common[0], "qqabsentqq"],           # one term absent entirely
        list(reversed(common)),              # likely zero phrase matches
    ]


def _both_paths(s: IndexSearcher, q, k: int):
    """(root-leaf rows, exhaustive rows) for the same query."""
    a = s.search(q, k).select("seg", "doc", "score").collect()
    return a, exhaustive_topk(s, q, k)


@pytest.mark.parametrize("scoring", ["lucene", "precise"])
def test_collector_equals_exhaustive(spark, corpus, index_dir, scoring):
    s = IndexSearcher(spark, index_dir, scoring=scoring)
    for terms in _phrases(corpus):
        for k in (3, 10):
            got, want = _both_paths(
                s, PhraseQuery.build("text", terms, slop=0), k)
            assert [(r.seg, r.doc) for r in got] == [
                (r.seg, r.doc) for r in want], (terms, k, scoring)
            assert [r.score for r in got] == [
                r.score for r in want], (terms, k, scoring)


def test_collector_folds_root_boost(spark, corpus, index_dir):
    s = IndexSearcher(spark, index_dir)
    terms = _phrases(corpus)[0]
    q = BoostQuery(PhraseQuery.build("text", terms, slop=0), 2.5)
    got, want = _both_paths(s, q, 10)
    assert [(r.seg, r.doc, r.score) for r in got] == [
        (r.seg, r.doc, r.score) for r in want]


def test_collector_chunked_pruning_converges(spark, corpus, index_dir,
                                             monkeypatch):
    """chunk0=1 forces many geometric verification rounds and exercises
    the θ early-stop on the common-bigram phrase; results must not
    change (and blocks skipped after θ convergence must not matter)."""
    import rucene_spark.search as search_mod

    monkeypatch.setattr(search_mod, "_VERIFY_CHUNK", 1)
    s = IndexSearcher(spark, index_dir)
    for terms in _phrases(corpus)[:3]:
        got, want = _both_paths(
            s, PhraseQuery.build("text", terms, slop=0), 3)
        assert [(r.seg, r.doc, r.score) for r in got] == [
            (r.seg, r.doc, r.score) for r in want], terms


def test_collector_masks_tombstones(spark, corpus, index_dir, tmp_path):
    """Deleting the root leaf's former top hits must drop them from the
    result identically to the anti-join path (in-worker mask)."""
    import shutil

    d = str(tmp_path / "phc_del")
    shutil.copytree(index_dir, d)
    s0 = IndexSearcher(spark, d)
    terms = _phrases(corpus)[0]
    q = PhraseQuery.build("text", terms, slop=0)
    before = s0.search(q, 5).collect()
    assert before, "fixture phrase must match"
    key_col = s0.key_col
    delete_by_keys(d, [r[key_col] for r in before[:3]])
    s = IndexSearcher(spark, d)
    assert s._deleted is not None
    got, want = _both_paths(s, q, 5)
    gone = {r[key_col] for r in before[:3]}
    assert not gone & {r[key_col] for r in s.search(q, 5).collect()}
    assert [(r.seg, r.doc, r.score) for r in got] == [
        (r.seg, r.doc, r.score) for r in want]


def test_phrase_collector_post_merge(spark, index_dir, corpus, tmp_path):
    """After force_merge the exact-phrase root leaf must equal the
    exhaustive path (regression: multi-file merged segments split a
    phrase's terms across scan partitions, emptying the per-partition
    doc conjunction)."""
    import shutil

    from rucene_spark.merge import force_merge

    d = str(tmp_path / "phc_merged")
    shutil.copytree(index_dir, d)
    force_merge(spark, d)
    s = IndexSearcher(spark, d)
    for terms in _phrases(corpus)[:2]:
        q = PhraseQuery.build("text", terms, slop=0)
        got, want = _both_paths(s, q, 10)
        assert [(r.seg, r.doc, r.score) for r in got] == [
            (r.seg, r.doc, r.score) for r in want]
        assert got, f"phrase {terms} must still match post-merge"


@pytest.mark.parametrize("scoring", ["lucene", "precise"])
def test_sloppy_collector_equals_exhaustive(spark, corpus, index_dir,
                                            scoring):
    """Sloppy phrases (slop > 0) through the root leaf — 2-term and
    n-slot vectorized walks AND the per-doc heap walk (repeated term) —
    must be rank- and score-identical to the exhaustive path."""
    s = IndexSearcher(spark, index_dir, scoring=scoring)
    phrases = _phrases(corpus)
    cases = [
        (phrases[0], 2),                  # common pair, 2-term batch walk
        (phrases[1], 4),                  # mid-df pair
        (phrases[3], 3),                  # trigram, n-slot walk
        (phrases[4], 2),                  # repeated term, per-doc walk
        (list(reversed(phrases[0])), 6),  # reversed order, wide slop
    ]
    for terms, slop in cases:
        for k in (3, 10):
            got, want = _both_paths(
                s, PhraseQuery.build("text", terms, slop=slop), k)
            assert [(r.seg, r.doc) for r in got] == [
                (r.seg, r.doc) for r in want], (terms, slop, k, scoring)
            assert [r.score for r in got] == [
                r.score for r in want], (terms, slop, k, scoring)


def test_sloppy_collector_masks_tombstones(spark, corpus, index_dir,
                                           tmp_path):
    """Deleted docs must not inflate the sloppy collector's θ or appear
    in its results."""
    import shutil

    from rucene_spark.merge import delete_by_keys

    d = str(tmp_path / "sloppy_tomb")
    shutil.copytree(index_dir, d)
    terms = _phrases(corpus)[0]
    q = PhraseQuery.build("text", terms, slop=3)
    top = IndexSearcher(spark, d).search(q, 3).collect()
    assert top
    delete_by_keys(d, [r["url"] for r in top])
    s = IndexSearcher(spark, d)
    got, want = _both_paths(s, q, 10)
    gone = {(r.seg, r.doc) for r in top}
    assert not gone & {(r.seg, r.doc) for r in got}
    assert [(r.seg, r.doc, r.score) for r in got] == [
        (r.seg, r.doc, r.score) for r in want]
