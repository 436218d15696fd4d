"""Random-query-tree fuzz over the ROUND-4 physical layouts.

The engine-parity fuzz (test_engine_parity.py) covers the fresh-build
layout only. These tests push the same seeded random trees through the
layouts a long-lived index actually serves from:

1. tombstoned (deletes pending, live-docs mask active) — rank- and
   float32-score-bit-identical to an oracle over the FULL corpus with the
   deleted keys dropped from its complete ranking: Lucene semantics keep
   deleted docs in df/ttf until merge, so the oracle built over every doc
   has exactly the engine's stats, and removing deleted docs from a total
   order leaves the live top-k.
2. trees with docmeta-backed leaves (range, exists, multi-range and
   match-all), which take the rows evaluation: search() on the fresh
   and the tombstoned layout, count(), a search_many batch and
   explain() of each tree's top hit, all against the oracle's bits.
3. sharded-merged (deletes folded by a multi-file doc-range-sharded
   SegmentMerger.merge) — search()'s per-segment top-k collector and the
   exhaustive live-masked query frame must both be rank- AND
   float32-score-bit-identical to a fresh oracle over the surviving
   corpus: a full merge re-aggregates stats, so the merged index is
   semantically a fresh build (segment_merger.rs doc-id squeeze), and the
   sequential remap preserves (seg, key-sorted local) order, so doc-asc
   tie-breaks line up with the oracle's (seg, local) order.
"""

import numpy as np
import pytest
from conftest import corpus_query_material, exhaustive_topk, random_query_tree

from rucene_spark.build import IndexWriter, load_manifest
from rucene_spark.merge import SegmentMerger, delete_by_keys
from rucene_spark.oracle import OracleSearcher, build_oracle_index
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus

N_DOCS = 420
N_SEG = 6
N_TREES = 35
SEED = 20260819


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(N_DOCS, seed=7)


@pytest.fixture(scope="module")
def victims(corpus):
    # spread deletions across hash segments: every 9th doc
    return corpus["url"].iloc[::9].tolist()


def _build(spark, corpus, d):
    df = spark.createDataFrame(corpus.drop(columns=["html"]))
    IndexWriter(spark, d, n_segments=N_SEG, key_col="url").build(df)
    return d


@pytest.fixture(scope="module")
def fresh(spark, corpus, tmp_path_factory):
    return _build(spark, corpus, str(tmp_path_factory.mktemp("fuzz_fresh")))


@pytest.fixture(scope="module")
def tombstoned(spark, corpus, victims, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_tomb"))
    _build(spark, corpus, d)
    delete_by_keys(d, victims)
    return d


@pytest.fixture(scope="module")
def merged(spark, corpus, victims, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fuzz_merged"))
    _build(spark, corpus, d)
    delete_by_keys(d, victims)
    row = SegmentMerger(spark, d, shard_bytes=1, max_shards=4).merge(
        list(range(N_SEG)))
    assert row["doc_sharded"] is True
    assert len(load_manifest(d)["segments"]) == 1
    return d


@pytest.fixture(scope="module")
def full_oracle(corpus):
    return OracleSearcher(build_oracle_index(corpus, n_segments=N_SEG))


@pytest.fixture(scope="module")
def merged_oracle(corpus, victims):
    survivors = corpus[~corpus["url"].isin(set(victims))].reset_index(
        drop=True)
    idx = build_oracle_index(survivors, n_segments=N_SEG)
    return OracleSearcher(idx)


def _hits(searcher, q, k=10):
    rows = searcher.search(q, k).collect()
    return [(r["url"], np.float32(r["score"]).view(np.int32).item())
            for r in rows]


def _trees(corpus):
    vocab, bigrams = corpus_query_material(corpus)
    rng = np.random.default_rng(SEED)
    return [random_query_tree(rng, vocab, bigrams) for _ in range(N_TREES)]


def test_tombstoned_matches_oracle(spark, corpus, victims, tombstoned,
                                   full_oracle):
    """Live-masked search over the tombstoned layout: same urls, same
    float32 score bits, same order as the full-corpus oracle's ranking
    of every doc with the deleted keys removed, tree by tree."""
    dead = set(victims)
    s = IndexSearcher(spark, tombstoned)
    failures = []
    for i, q in enumerate(_trees(corpus)):
        eng = _hits(s, q)
        orc = [(u, np.float32(sc).view(np.int32).item())
               for (u, sc, _) in full_oracle.search(q, N_DOCS)
               if u not in dead][:10]
        if eng != orc:
            failures.append(
                f"fuzz#{i}: engine={eng[:3]} oracle={orc[:3]} :: {q!r}"[:400])
    assert not failures, "\n".join(failures)


def test_tombstoned_extended_matches_oracle(spark, corpus, victims,
                                            tombstoned, full_oracle):
    """The extended tree stream (BoostingQuery and MinScoreQuery nodes
    added) over the tombstoned layout: 40 trees, same urls, float32
    score bits and order as the full-corpus oracle with the deleted keys
    dropped."""
    dead = set(victims)
    vocab, bigrams = corpus_query_material(corpus)
    rng = np.random.default_rng(SEED + 1)
    s = IndexSearcher(spark, tombstoned)
    failures = []
    for i in range(40):
        q = random_query_tree(rng, vocab, bigrams, extended=True)
        eng = _hits(s, q)
        orc = [(u, np.float32(sc).view(np.int32).item())
               for (u, sc, _) in full_oracle.search(q, N_DOCS)
               if u not in dead][:10]
        if eng != orc:
            failures.append(
                f"ext#{i}: engine={eng[:3]} oracle={orc[:3]} :: {q!r}"[:400])
    assert not failures, "\n".join(failures)


def _bits(score):
    return np.float32(score).view(np.int32).item()


def test_docmeta_trees_match_oracle(spark, corpus, victims, fresh,
                                    tombstoned, full_oracle):
    """40 extended trees with docmeta-backed leaves: search() on the
    fresh layout, search() on the tombstoned layout (against the
    full-corpus oracle with the deleted keys dropped), count(), one
    search_many batch, and explain() of every tree's top hit, all
    bit-identical to the oracle."""
    vocab, bigrams = corpus_query_material(corpus)
    rng = np.random.default_rng(SEED + 2)
    trees = [random_query_tree(rng, vocab, bigrams, extended=True,
                               docmeta=True) for _ in range(40)]
    shapes = "".join(map(repr, trees))
    for leaf in ("RangeQuery(", "ExistsQuery(", "MultiRangeQuery(",
                 "MatchAllDocsQuery("):
        assert leaf in shapes, leaf
    dead = set(victims)
    s = IndexSearcher(spark, fresh)
    st = IndexSearcher(spark, tombstoned)
    batch = {}
    for r in s.search_many(trees, 10).collect():
        batch.setdefault(r["qid"], []).append((r["url"], _bits(r["score"])))
    failures = []
    for i, q in enumerate(trees):
        full = [(u, _bits(sc)) for (u, sc, _) in full_oracle.search(q, N_DOCS)]
        rows = s.search(q, 10).collect()
        got = {
            "fresh": [(r["url"], _bits(r["score"])) for r in rows],
            "tomb": _hits(st, q),
            "count": s.count(q),
            "many": batch.get(i, []),
        }
        want = {"fresh": full[:10],
                "tomb": [h for h in full if h[0] not in dead][:10],
                "count": full_oracle.count(q), "many": full[:10]}
        if rows:
            e = s.explain(q, rows[0]["seg"], rows[0]["doc"])
            got["explain"] = (e["match"], _bits(e["value"]))
            want["explain"] = (True, _bits(rows[0]["score"]))
        bad = [key for key in got if got[key] != want[key]]
        if bad:
            failures.append(f"docmeta#{i} {bad}: {q!r}"[:400])
    assert not failures, "\n".join(failures)


def _boosted_min_score_case(corpus, full_oracle):
    """A 2x-boosted boolean whose must is a MinScoreQuery over a
    term + range-filter boolean, with the cutoff at the median of the
    inner scores, and the oracle's sorted match set of it."""
    from rucene_spark.query import (BooleanQuery, BoostQuery,
                                    MinScoreQuery, RangeQuery, TermQuery)

    vocab, _ = corpus_query_material(corpus)
    for term in vocab:
        inner = BooleanQuery(musts=[TermQuery("text", term)],
                             filters=[RangeQuery("lang", "de", "en")])
        scores = sorted({float(sc) for _, sc, _ in
                         full_oracle.search(inner, N_DOCS)})
        if len(scores) >= 6:
            break
    cut = scores[len(scores) // 2]
    q = BoostQuery(BooleanQuery(musts=[MinScoreQuery(inner, cut)]), 2.0)
    want = sorted(u for u, _, _ in full_oracle.search(q, N_DOCS))
    assert len(want) > full_oracle.count(MinScoreQuery(inner, cut))
    return q, want


def _assert_count_and_sorted(s, q, want):
    from pyspark.sql import functions as F

    assert s.count(q) == len(want)
    got = [r["url"] for r in
           s.search_sorted(q, [F.col("url")], N_DOCS).collect()]
    assert got == want


def test_boosted_min_score_count_and_sorted_match_oracle(
        spark, corpus, fresh, full_oracle):
    """count() and search_sorted() evaluate their trees unscored, but a
    MinScoreQuery inside still compares its cutoff with the scores the
    boosts above it scale: under a 2x boost a doc whose unboosted score
    lies in (c/2, c] passes a cutoff c. Both must match the oracle's
    match set."""
    q, want = _boosted_min_score_case(corpus, full_oracle)
    _assert_count_and_sorted(IndexSearcher(spark, fresh), q, want)


def test_boosted_min_score_cached_count_and_sorted_match_oracle(
        spark, corpus, fresh, full_oracle):
    """The same shape through a query cache that stores every subtree:
    the unscored MinScoreQuery child becomes a cached match set, which
    must be taken at the boost its cutoff sees. The boosted set is keyed
    apart from the unboosted one, so a later count() of the bare child
    reads its own (smaller) set."""
    from rucene_spark.cache import (AlwaysCacheQueryCachingPolicy,
                                    LRUQueryCache)

    q, want = _boosted_min_score_case(corpus, full_oracle)
    qc = LRUQueryCache(max_size=8, min_size=0)
    s = IndexSearcher(spark, fresh, query_cache=qc,
                      caching_policy=AlwaysCacheQueryCachingPolicy())
    for _ in range(2):  # the second pass reads the stored set
        _assert_count_and_sorted(s, q, want)
    bare = q.query.musts[0]
    assert s.count(bare) == full_oracle.count(bare) < len(want)


def test_merged_search_many_matches_per_query(spark, corpus, merged):
    """The micro-batch serving executor over the sharded merged layout:
    one job for the whole fuzz batch, rank/score-identical per qid to
    per-query search() (which the oracle test below pins)."""
    trees = _trees(corpus)
    s = IndexSearcher(spark, merged)
    batch = s.search_many(trees, 10).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append(
            (r["url"], round(float(r["score"]), 6)))
    for i, q in enumerate(trees):
        want = [(r["url"], round(float(r["score"]), 6))
                for r in s.search(q, 10).collect()]
        assert by_qid.get(i, []) == want, f"qid {i}: {q!r}"


def _frame_hits(searcher, q, k=10):
    """The top-k of the exhaustive live-masked query frame (the k=None
    kernels that serve nested and above-cap roots), as _hits() shapes
    search()'s rows."""
    urls = {(r["seg"], r["doc"]): r["url"]
            for r in searcher._docmeta.select("seg", "doc", "url").collect()}
    return [(urls[(r["seg"], r["doc"])],
             np.float32(r["score"]).view(np.int32).item())
            for r in exhaustive_topk(searcher, q, k)]


@pytest.mark.parametrize("route", ["collector", "frame"])
def test_merged_sharded_matches_oracle(spark, corpus, merged, merged_oracle,
                                       route):
    """Both ways to a root's top-k over the multi-file sharded merged
    segment — search()'s per-segment top-k collector and the exhaustive
    query frame — must be rank- and score-bit-identical to a fresh
    oracle on the survivors."""
    trees = _trees(corpus)
    s = IndexSearcher(spark, merged)
    hits = _hits if route == "collector" else _frame_hits
    failures = []
    for i, q in enumerate(trees):
        eng = hits(s, q)
        orc = [(u, np.float32(sc).view(np.int32).item())
               for (u, sc, _) in merged_oracle.search(q, 10)]
        if eng != orc:
            failures.append(
                f"fuzz#{i}: engine={eng[:3]} oracle={orc[:3]} :: {q!r}"[:400])
    assert not failures, "\n".join(failures)
