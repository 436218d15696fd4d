"""SearcherManager / warmup: acquire-refresh semantics vs the reference
(search_manager.rs:44-132, :197 acquire, :304 maybe_refresh) and the
SearcherFactory warm hook (IndexSearcher.warmup)."""

import pytest

from rucene_spark.build import IndexWriter
from rucene_spark.query import TermQuery
from rucene_spark.search import IndexSearcher
from rucene_spark.streaming import SearcherManager
from rucene_spark.webtext import make_corpus, term_df_spectrum


def _hi_term(corpus):
    return next(t for t in term_df_spectrum(corpus).index
                if t.startswith("t0"))


@pytest.fixture()
def built_index(spark, tmp_index):
    corpus = make_corpus(300, seed=47).drop(columns=["html", "warc_ts"])
    IndexWriter(spark, tmp_index, n_segments=4).build(
        spark.createDataFrame(corpus))
    return tmp_index, corpus


def test_warmup_preserves_results(spark, built_index):
    idx, corpus = built_index
    q = TermQuery("text", _hi_term(corpus))
    cold = IndexSearcher(spark, idx).search(q, 10).collect()
    warm_s = IndexSearcher(spark, idx).warmup()
    warm = warm_s.search(q, 10).collect()
    assert [(r["url"], r["score"]) for r in cold] == \
           [(r["url"], r["score"]) for r in warm]


def test_manager_acquire_and_noop_refresh(spark, built_index):
    idx, corpus = built_index
    mgr = SearcherManager(spark, idx)
    s1 = mgr.acquire()
    assert isinstance(s1, IndexSearcher)
    # nothing committed since: maybe_refresh is a no-op and the SAME
    # searcher instance stays current (maybe_refresh -> false)
    assert mgr.maybe_refresh() is False
    assert mgr.acquire() is s1


def test_manager_refresh_sees_new_commit(spark, built_index):
    idx, corpus = built_index
    mgr = SearcherManager(spark, idx, warm=True)
    s1 = mgr.acquire()
    q = TermQuery("text", _hi_term(corpus))
    n1 = len(s1.search(q, 1000).collect())

    # a delta append publishes a new manifest -> refresh must swap
    extra = make_corpus(60, seed=48).drop(columns=["html", "warc_ts"])
    extra["url"] = "delta-" + extra["url"]
    IndexWriter(spark, idx, n_segments=2).add_documents(
        spark.createDataFrame(extra), n_segments=2)

    assert mgr.maybe_refresh() is True
    s2 = mgr.acquire()
    assert s2 is not s1
    n2 = len(s2.search(q, 1000).collect())
    assert n2 >= n1  # new searcher sees the appended commit point
    # the OLD reference still serves its own commit point (acquire/
    # release isolation): its doc_count is the pre-append manifest's
    assert s1.doc_count == 300 and s2.doc_count == 360


def test_manager_close(spark, built_index):
    idx, _ = built_index
    mgr = SearcherManager(spark, idx)
    mgr.close()
    with pytest.raises(RuntimeError):
        mgr.acquire()


def test_manager_requires_commit(spark, tmp_index):
    with pytest.raises(FileNotFoundError):
        SearcherManager(spark, tmp_index + "/nope")
