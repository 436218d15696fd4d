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


def test_blockmax_actually_prunes(spark, index_dir, corpus, monkeypatch):
    """For a skewed disjunction (one rare high-idf term + dense stopword-ish
    terms) the per-segment kernel must skip some block decodes — pruning
    is the point of BMW, not just matching the exhaustive scorer. The
    kernel runs in-process on each segment's scan rows, with the decode
    helper wrapped to count the rows it decodes."""
    import numpy as np
    from pyspark.sql import functions as F

    import rucene_spark.search as search_mod

    s = IndexSearcher(spark, index_dir, scoring="lucene")
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    # rare driver term → high theta; dense terms have many low-ub blocks
    terms = [plain[-1], plain[0], plain[1]]
    stats = s._stats_for([("text", t) for t in terms])
    tw = s._term_weight_table([("text", t, 1.0) for t in terms], stats)
    ti_of = {t: i for i, t in enumerate(terms)}
    k1_, b_ = s.sim_f["text"]
    rows = s._postings.filter(
        (F.col("field") == "text") & F.col("term").isin(terms)
    ).select(*search_mod._BMW_SCAN_COLS).toPandas()

    decoded = [0]
    real = search_mod._decode_term_rows

    def counting(pdf, lucene):
        decoded[0] += len(pdf)
        return real(pdf, lucene)

    monkeypatch.setattr(search_mod, "_decode_term_rows", counting)
    best = []
    for _, sub in rows.groupby("seg", sort=True):
        _, scores = search_mod._bmw_seg_topk(
            sub.reset_index(drop=True), None, 1, ti_of, tw,
            s.cache_f["text"].astype(np.float64), k1_, b_,
            s.avgdl64_f["text"])
        best.extend(scores)
    assert 0 < decoded[0] < len(rows), (decoded[0], len(rows))
    # the per-segment winners still hold the true top-1
    top = s.search_blockmax(terms, 1).collect()
    assert max(best) == top[0]["score"]


def test_blockmax_rejects_duplicate_terms(spark, corpus, index_dir):
    """The kernel keys clauses by term, so a repeated term would fold
    into one clause and score differently from the exhaustive
    disjunction (which scores it twice)."""
    s = IndexSearcher(spark, index_dir, scoring="lucene")
    a, b = _term_sets(corpus)[0]
    with pytest.raises(ValueError, match="duplicate"):
        s.search_blockmax([a, a, b], 3)


def test_blockmax_rejects_boosts_length_mismatch(spark, corpus, index_dir):
    s = IndexSearcher(spark, index_dir, scoring="lucene")
    a, b = _term_sets(corpus)[0]
    with pytest.raises(ValueError, match="boosts"):
        s.search_blockmax([a, b], 3, boosts=[2.0])


def _check_tombstones(spark, corpus, d):
    from rucene_spark.merge import delete_by_keys

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


def test_blockmax_collector_with_tombstones(spark, corpus, tmp_path):
    """Deleted docs must neither inflate the collector's segment-local θ
    nor appear in its results."""
    _check_tombstones(spark, corpus, str(tmp_path / "bmw_tomb"))
