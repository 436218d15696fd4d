"""Tombstone-aware count fast paths must equal the exhaustive
anti-join count (searcher.rs:632-654 puts the no-delete fast paths
behind a live-docs check; the per-segment fold is Lucene's
maxDoc - numDeletedDocs metadata count applied per leaf, so it must be
value-identical under deletes, after merges, and across routes)."""

import numpy as np
import pandas as pd
import pytest

from rucene_spark.build import IndexWriter
from rucene_spark.merge import delete_by_keys, force_merge
from rucene_spark.query import MatchAllDocsQuery, TermQuery
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus, term_df_spectrum


@pytest.fixture(scope="module")
def corpus() -> pd.DataFrame:
    return make_corpus(800, seed=11)


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cnt_idx"))
    IndexWriter(spark, d, n_segments=4).build(
        spark.createDataFrame(corpus[["url", "text", "lang"]])
    )
    # tombstone ~10% of docs, including some that share segments
    delete_by_keys(d, corpus["url"].iloc[5:85].tolist())
    return d


def _counts(spark, index_dir, terms):
    """(fast path, exhaustive route) counts: each count fast path beside
    the live-masked frame's row count of the same query."""
    s = IndexSearcher(spark, index_dir)
    qs = {t: TermQuery("text", t) for t in terms}
    qs["__all__"] = MatchAllDocsQuery()
    fast = {t: s.count(q) for t, q in qs.items()}
    slow = {t: s._live(s._frame(q, np.float32(1.0), needs_scores=False))
            .count() for t, q in qs.items()}
    return fast, slow


def test_count_live_cross_route(spark, corpus, index_dir):
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    terms = [plain[0], plain[len(plain) // 3], plain[-1], "tzzzzzz"]
    fast, slow = _counts(spark, index_dir, terms)
    assert fast == slow
    # deletes actually bite: match-all under tombstones < corpus size
    assert fast["__all__"] == len(corpus) - 80


def test_count_live_after_merge(spark, corpus, index_dir):
    # merging consumes tombstones physically; both routes must track it
    force_merge(spark, index_dir)
    dfs = term_df_spectrum(corpus)
    hi = [t for t in dfs.index if t.startswith("t0")][0]
    # fresh deletes on the merged index exercise the fold on the
    # single-file merged layout
    delete_by_keys(index_dir, corpus["url"].iloc[100:120].tolist())
    fast, slow = _counts(spark, index_dir, [hi])
    assert fast == slow
    assert fast["__all__"] == len(corpus) - 100
