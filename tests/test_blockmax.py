"""Block-max WAND pruning must be rank- and score-identical to the
exhaustive disjunction scorer (SURVEY.md §4.3: pruning is correctness-
neutral by construction; this is the gate that keeps it so)."""

import pandas as pd
import pytest

from rucene_spark.build import IndexWriter
from rucene_spark.query import BooleanQuery, TermQuery
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus, term_df_spectrum


@pytest.fixture(scope="module")
def corpus() -> pd.DataFrame:
    return make_corpus(900, seed=7)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("bmw_idx"))
    IndexWriter(spark, d, n_segments=4).build(
        spark.createDataFrame(corpus[["url", "text", "lang"]])
    )
    return d


def _term_sets(corpus):
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    hi, hi2 = plain[0], plain[1]
    mid = plain[len(plain) // 3]
    rare = plain[-1]
    return [
        [hi, mid],
        [hi, hi2, mid],
        [hi, mid, rare],
        [rare, "tzzzzzz"],          # rare + absent
        [hi],                        # single term degenerates to TermQuery
        [hi, mid, rare, hi2],
    ]


@pytest.mark.parametrize("scoring", ["lucene", "precise"])
def test_blockmax_equals_exhaustive(spark, corpus, index_dir, scoring):
    s = IndexSearcher(spark, index_dir, scoring=scoring)
    for terms in _term_sets(corpus):
        for k in (3, 10):
            exhaustive = s.search(
                BooleanQuery.build([], [TermQuery("text", t) for t in terms], [], []),
                k,
            ).select("seg", "doc", "score").collect()
            pruned = s.search_blockmax(terms, k).select(
                "seg", "doc", "score").collect()
            assert [(r.seg, r.doc) for r in pruned] == [
                (r.seg, r.doc) for r in exhaustive], (terms, k, scoring)
            assert [r.score for r in pruned] == pytest.approx(
                [r.score for r in exhaustive], rel=1e-6), (terms, k, scoring)


def test_blockmax_actually_prunes(spark, index_dir, corpus):
    """For a skewed disjunction (one rare high-idf term + dense stopword-ish
    terms) the metadata filter must discard some blocks — pruning is the
    point of BMW, not just matching the exhaustive scorer."""
    s = IndexSearcher(spark, index_dir, scoring="lucene")
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    # rare driver term → high theta; dense terms have many low-ub blocks
    terms = [plain[-1], plain[0], plain[1]]
    ctr: dict = {}
    s.search_blockmax(terms, 1, prune_counter=ctr).collect()
    assert ctr["total_blocks"] > 0
    assert ctr["theta"] > 0
    assert ctr["kept_blocks"] < ctr["total_blocks"], ctr


def test_blockmax_degenerate_fallback_is_exact(spark, corpus, index_dir,
                                               monkeypatch):
    """When the candidate-bucket collect overflows (_MAX_CAND_BUCKETS),
    the degenerate fallback scores non-essential terms exhaustively in
    one scan — results must stay rank- and score-identical."""
    import rucene_spark.search as search_mod

    monkeypatch.setattr(search_mod, "_MAX_CAND_BUCKETS", 0)
    s = IndexSearcher(spark, index_dir, scoring="lucene")
    for terms in _term_sets(corpus):
        exhaustive = s.search(
            BooleanQuery.build([], [TermQuery("text", t) for t in terms],
                               [], []),
            10,
        ).select("seg", "doc", "score").collect()
        ctr: dict = {}
        pruned = s.search_blockmax(terms, 10, prune_counter=ctr).select(
            "seg", "doc", "score").collect()
        assert [(r.seg, r.doc) for r in pruned] == [
            (r.seg, r.doc) for r in exhaustive], terms
        assert [r.score for r in pruned] == pytest.approx(
            [r.score for r in exhaustive], rel=1e-6), terms
        # with a 0 cap, any multi-term query with candidates must degrade
        if ctr.get("n_nonessential", 0) and ctr.get("theta", 0) > 0:
            assert ctr.get("degenerate"), (terms, ctr)


def test_blockmax_collector_matches_multijob(spark, corpus, index_dir):
    """The per-segment BMW collector (the default route) must be rank- and score-identical to the multi-job BMW path
    on every term mix — and both must survive deletions."""
    s = IndexSearcher(spark, index_dir, scoring="lucene")
    for terms in _term_sets(corpus):
        kernel = s.search_blockmax(terms, 10).select(
            "seg", "doc", "score").collect()
        # a prune_counter routes to the multi-job path (it reports there)
        multijob = s.search_blockmax(terms, 10, prune_counter={}).select(
            "seg", "doc", "score").collect()
        assert [(r.seg, r.doc) for r in kernel] == [
            (r.seg, r.doc) for r in multijob], terms
        assert [r.score for r in kernel] == pytest.approx(
            [r.score for r in multijob], rel=1e-6), terms


def test_blockmax_collector_with_tombstones(spark, corpus, tmp_path,
                                            monkeypatch):
    """Deleted docs must neither inflate the collector's segment-local θ
    nor appear in its results."""
    from rucene_spark.build import IndexWriter
    from rucene_spark.merge import delete_by_keys

    d = str(tmp_path / "bmw_tomb")
    IndexWriter(spark, d, n_segments=4).build(
        spark.createDataFrame(corpus[["url", "text", "lang"]]))
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    terms = [plain[0], plain[len(plain) // 3]]
    # delete the current top-3 docs so θ must shift
    s0 = IndexSearcher(spark, d, scoring="lucene")
    top = s0.search_blockmax(terms, 3).collect()
    delete_by_keys(d, [r["url"] for r in top])
    s = IndexSearcher(spark, d, scoring="lucene")
    gone = {(r.seg, r.doc) for r in top}
    kernel = s.search_blockmax(terms, 10).select(
        "seg", "doc", "score").collect()
    assert not gone & {(r.seg, r.doc) for r in kernel}
    exhaustive = s.search(
        BooleanQuery.build([], [TermQuery("text", t) for t in terms],
                           [], []), 10
    ).select("seg", "doc", "score").collect()
    assert [(r.seg, r.doc) for r in kernel] == [
        (r.seg, r.doc) for r in exhaustive]
    assert [r.score for r in kernel] == pytest.approx(
        [r.score for r in exhaustive], rel=1e-6)
