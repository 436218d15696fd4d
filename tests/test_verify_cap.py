"""Candidate cap on the per-doc Python verify paths (round-3 VERDICT #1).

Round-5 narrowing (round-4 verdict #2): DISTINCT-term sloppy phrases of
any length and ORDERED nears over term/gap clauses of any length are now
lockstep-vectorized (phrase.sloppy_phrase_freq_nslot_flat,
spans.ordered_near_freq_nclause_flat) and exempt from the cap.  What
remains per-doc Python — repeated-term sloppy phrases (repeat groups)
and or-tree / unordered span shapes — is still bounded by the metadata
upper bound (min required-clause df) against ``verify_candidate_cap``
and rejected with guidance instead of running a corpus-sized loop.
"""

import shutil
import tempfile

import pytest
from conftest import exhaustive_topk

from rucene_spark.build import IndexWriter
from rucene_spark.query import (
    PhraseQuery,
    SpanNearQuery,
    SpanTermQuery,
    TermQuery,
)
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus, term_df_spectrum


@pytest.fixture(scope="module")
def idx(spark):
    d = tempfile.mkdtemp(prefix="rucene_cap_idx_")
    IndexWriter(spark, d, n_segments=3).build(
        spark.createDataFrame(make_corpus(300, seed=11)))
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def probe(idx):
    dfs = term_df_spectrum(make_corpus(300, seed=11))
    terms = [t for t in dfs.index if dfs[t] >= 30]
    return terms[0], terms[1], terms[2]


def test_repeated_term_sloppy_capped(spark, idx, probe):
    a, b, _ = probe
    s = IndexSearcher(spark, idx, verify_candidate_cap=5)
    with pytest.raises(ValueError, match="verify_candidate_cap"):
        s.search(PhraseQuery.build("text", [a, b, a], slop=2), 10)


def test_span_capped(spark, idx, probe):
    a, b, _ = probe
    s = IndexSearcher(spark, idx, verify_candidate_cap=5)
    q = SpanNearQuery([SpanTermQuery("text", a), SpanTermQuery("text", b)],
                      slop=3, in_order=False)
    with pytest.raises(ValueError, match="verify_candidate_cap"):
        s.search(q, 10)


def test_distinct_nslot_sloppy_exempt_and_correct(spark, idx, probe):
    # 3-term DISTINCT sloppy phrase: lockstep-vectorized, cap-exempt —
    # and identical to the uncapped per-doc path's results
    a, b, c = probe
    q = PhraseQuery.build("text", [a, b, c], slop=3)
    tiny = IndexSearcher(spark, idx, verify_candidate_cap=5)
    got = [(r["url"], r["score"]) for r in tiny.search(q, 10).collect()]
    big = IndexSearcher(spark, idx, verify_candidate_cap=10**9)
    want = [(r["url"], r["score"]) for r in big.search(q, 10).collect()]
    assert got == want and len(got) > 0


def test_nclause_ordered_span_exempt_and_correct(spark, idx, probe):
    a, b, c = probe
    q = SpanNearQuery([SpanTermQuery("text", a), SpanTermQuery("text", b),
                       SpanTermQuery("text", c)], slop=4, in_order=True)
    tiny = IndexSearcher(spark, idx, verify_candidate_cap=5)
    got = [(r["seg"], r["doc"], r["score"])
           for r in tiny.search(q, 10).collect()]
    # every candidate verified, no impact pruning, as the witness
    want = [(r.seg, r.doc, r.score) for r in exhaustive_topk(tiny, q, 10)]
    assert got == want and len(got) > 0


def test_two_term_sloppy_exempt_and_exact_path_exempt(spark, idx, probe):
    a, b, c = probe
    s = IndexSearcher(spark, idx, verify_candidate_cap=5)
    # vectorized 2-term sloppy runs regardless of df
    assert s.search(PhraseQuery.build("text", [a, b], slop=2), 10).count() >= 0
    # exact phrases verify by vectorized intersection — never capped
    assert s.search(PhraseQuery.build("text", [a, b, c], slop=0), 10).count() >= 0
    # term queries untouched
    assert s.search(TermQuery("text", a), 10).count() == 10


def test_cap_default_allows_normal_queries(spark, idx, probe):
    a, b, c = probe
    s = IndexSearcher(spark, idx)
    assert s.search(PhraseQuery.build("text", [a, b, c], slop=2), 10).count() >= 0
