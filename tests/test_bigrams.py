"""Hot-pair bigram channel (round 5): rank/score identity + semantics.

The channel is PURE acceleration — every exact-phrase search on a
bigram-enabled index must return byte-identical (doc, score) results to
(a) the same index served with the channel disabled and (b) an index
built without the channel, across the collector AND exhaustive routes.
Includes the tf-cap adversarial case: an adjacency whose left side falls
outside the first TERM_FREQ_LIMIT occurrences must NOT count, because
the position-verify paths only see capped position lists.
"""

from __future__ import annotations

import tempfile

import pytest
from conftest import exhaustive_topk

from rucene_spark.build import (
    BIGRAM_SEP,
    IndexWriter,
    load_bigram_vocab,
    load_manifest,
)
from rucene_spark.merge import force_merge
from rucene_spark.query import PhraseQuery
from rucene_spark.search import IndexSearcher

DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "to be or not to be that is the question",
    "the the the repeated stopword run the the",
    "of the people by the people for the people",
    "a c a c a c a c a c a c a c a c a c a c a c a c a b",  # cap case
    "quick the fox of to be people question lazy over",
    "be to or to be not the of people the",
    "x y z entirely rare terms here",
    "the quick the quick the quick the quick the quick",
    "over the lazy dog jumps the quick brown fox",
] * 6  # 60 docs so hot detection is stable


PHRASES = [
    ["the", "quick"],            # 2-term hot pair -> single pair slot
    ["to", "be"],
    ["the", "lazy", "dog"],      # 3-term chain of hot pairs
    ["of", "the", "people"],
    ["the", "the"],              # repeated adjacent hot term
    ["the", "the", "the"],
    ["a", "b"],                  # adjacency beyond the tf cap (doc 4)
    ["quick", "brown", "fox"],
    ["be", "or", "not", "to", "be"],
    ["entirely", "rare", "terms"],   # no hot terms at all
    ["the", "question"],
    ["people", "for", "the"],
]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, t) for i, t in enumerate(DOCS)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def idx_plain(spark, corpus):
    d = tempfile.mkdtemp(prefix="bg_plain_")
    IndexWriter(spark, d, n_segments=4, key_col="doc_id",
                partitioner="range").build(corpus)
    return d


@pytest.fixture(scope="module")
def idx_bigram(spark, corpus):
    d = tempfile.mkdtemp(prefix="bg_on_")
    IndexWriter(spark, d, n_segments=4, key_col="doc_id",
                partitioner="range", bigrams=0.2).build(corpus)
    return d


def _phrase_results(spark, d, terms, k=20, collector=True):
    """(doc_id, score) top-k of an exact phrase: search()'s impact-pruned
    root leaf, or (collector=False) the exhaustive nested leaf."""
    s = IndexSearcher(spark, d)
    q = PhraseQuery.build("text", terms, slop=0)
    if collector:
        return [(r["doc_id"], r["score"]) for r in s.search(q, k).collect()]
    ids = {(r["seg"], r["doc"]): r["doc_id"] for r in
           s._docmeta.select("seg", "doc", "doc_id").collect()}
    return [(ids[(r.seg, r.doc)], r.score)
            for r in exhaustive_topk(s, q, k)]


def test_vocab_built_and_recorded(spark, idx_bigram):
    m = load_manifest(idx_bigram)
    assert m["bigrams"]["frac"] == 0.2
    hot = load_bigram_vocab(idx_bigram, m)["text"]
    assert "the" in hot and "people" in hot
    assert "entirely" not in hot


def test_pair_channel_in_postings(spark, idx_bigram):
    m = load_manifest(idx_bigram)
    s = IndexSearcher(spark, idx_bigram)
    rows = (s._postings.filter("field = 'text#2'")
            .select("term").distinct().collect())
    pair_terms = {r["term"] for r in rows}
    assert f"the{BIGRAM_SEP}quick" in pair_terms
    # (a, b) adjacency exists only past the cap -> must NOT be indexed
    assert f"a{BIGRAM_SEP}b" not in pair_terms


@pytest.mark.parametrize("terms", PHRASES, ids=[" ".join(p) for p in PHRASES])
def test_phrase_identity_all_routes(spark, idx_plain, idx_bigram, terms,
                                    monkeypatch):
    want = _phrase_results(spark, idx_plain, terms, collector=True)
    # sanity: collector matches exhaustive on the plain index
    assert want == _phrase_results(spark, idx_plain, terms, collector=False)
    got = _phrase_results(spark, idx_bigram, terms, collector=True)
    assert got == want, f"bigram route diverged for {terms}"
    # the unrewritten path on the bigram index must also agree
    monkeypatch.setattr(IndexSearcher, "_bigram_hot", lambda self, f: None)
    off = _phrase_results(spark, idx_bigram, terms, collector=True)
    assert off == want


def test_cap_semantics_no_false_hit(spark, idx_bigram):
    # 'a b' adjacency occurs only at a's 13th occurrence: the capped
    # position lists can never align it, so the phrase matches nothing
    assert _phrase_results(spark, idx_bigram, ["a", "b"]) == []


def test_sloppy_phrase_unaffected(spark, idx_plain, idx_bigram):
    def run(d):
        s = IndexSearcher(spark, d)
        q = PhraseQuery.build("text", ["the", "dog"], slop=2)
        return [(r["doc_id"], r["score"]) for r in s.search(q, 20).collect()]

    assert run(idx_bigram) == run(idx_plain)


def test_channel_survives_merge(spark, corpus, idx_plain):
    d = tempfile.mkdtemp(prefix="bg_merge_")
    IndexWriter(spark, d, n_segments=4, key_col="doc_id",
                partitioner="range", bigrams=0.2).build(corpus)
    force_merge(spark, d)
    for terms in (["the", "quick"], ["of", "the", "people"], ["a", "b"]):
        assert (_phrase_results(spark, d, terms)
                == _phrase_results(spark, idx_plain, terms)), terms


def test_deltas_inherit_frozen_vocab(spark, corpus, idx_plain):
    d = tempfile.mkdtemp(prefix="bg_delta_")
    half = corpus.filter("doc_id < 30")
    rest = corpus.filter("doc_id >= 30")
    w = IndexWriter(spark, d, n_segments=2, key_col="doc_id",
                    partitioner="range", bigrams=0.2)
    w.build(half)
    w.add_documents(rest, n_segments=2)
    for terms in (["the", "quick"], ["to", "be"], ["the", "the"]):
        assert (sorted(_phrase_results(spark, d, terms))
                == sorted(_phrase_results(spark, idx_plain, terms))), terms


def test_resumable_build_identical(spark, corpus):
    d = tempfile.mkdtemp(prefix="bg_resume_")
    w = IndexWriter(spark, d, n_segments=4, key_col="doc_id",
                    partitioner="range", bigrams=0.2)
    m1 = w.build(corpus)
    m2 = w.build(corpus)
    assert m1["segments"] == m2["segments"]
    assert m1["bigrams"] == m2["bigrams"]


def test_bigrams_rejects_payload_analyzer(spark):
    with pytest.raises(ValueError, match="bigrams requires analyzer"):
        IndexWriter(spark, tempfile.mkdtemp(), analyzer="delimited_payload",
                    bigrams=True)
