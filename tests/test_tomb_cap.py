"""Tombstone-broadcast cap knob (RUCENE_TOMB_BCAST_CAP).

The searcher broadcasts the tombstone table while it is small and falls
back to a shuffle anti-join above the cap (live_docs posture,
SURVEY §2.1). The 30M-doc probe showed the old hardwired 500k cap was
the first scale cliff (BENCH_30M.json: 2% deletes = 600k tombstones →
every post-merge query paid a fresh 30M-row anti-join, 1.1s → 20.5s
warm), so the cap is now env-tunable with a 4M default. Both routes
must return identical results — the cap is a physical-plan choice,
never a semantics choice.
"""

import pandas as pd
import pytest

from rucene_spark.build import IndexWriter
from rucene_spark.merge import delete_by_keys
from rucene_spark.query import MatchAllDocsQuery, TermQuery
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("tombcap_idx"))
    corpus = make_corpus(600, seed=23)
    IndexWriter(spark, d, n_segments=4).build(
        spark.createDataFrame(corpus))
    victims = corpus["url"].iloc[5:90:7].tolist()
    delete_by_keys(d, victims)
    return d


def _topk(s, q, k=10):
    return [(r["url"], round(float(r["score"]), 5))
            for r in s.search(q, k).collect()]


def test_cap_forces_shuffle_path_with_identical_results(
        spark, index_dir, monkeypatch):
    s_bcast = IndexSearcher(spark, index_dir)
    assert s_bcast._bcast_deleted  # 13 tombstones < default 4M cap

    monkeypatch.setenv("RUCENE_TOMB_BCAST_CAP", "1")
    s_shuf = IndexSearcher(spark, index_dir)
    assert not s_shuf._bcast_deleted

    q = TermQuery("text", "t000000")
    assert _topk(s_shuf, q) == _topk(s_bcast, q)
    assert s_shuf.count(q) == s_bcast.count(q)
    assert (s_shuf.count(MatchAllDocsQuery())
            == s_bcast.count(MatchAllDocsQuery()))


def test_default_cap_broadcasts_at_probe_scale_count(
        spark, index_dir, monkeypatch):
    # the 30M-probe regression shape: 600k tombstones must stay on the
    # broadcast route under the default cap (counted from parquet
    # footers, so pin the boundary with the env knob instead of
    # materializing 600k rows here)
    monkeypatch.setenv("RUCENE_TOMB_BCAST_CAP", "13")
    assert IndexSearcher(spark, index_dir)._bcast_deleted
    monkeypatch.setenv("RUCENE_TOMB_BCAST_CAP", "12")
    assert not IndexSearcher(spark, index_dir)._bcast_deleted


def test_concurrent_searchers_leave_arrow_conf_unchanged(spark, index_dir):
    """Four threads each open a searcher on the tombstoned index and
    search it, each materializing its own tombstone memo: every thread
    gets the single-threaded result, and the session's Arrow conf is
    the same afterwards (the tombstone transfer never flips it)."""
    from concurrent.futures import ThreadPoolExecutor

    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    q = TermQuery("text", "t000000")
    want = _topk(IndexSearcher(spark, index_dir), q)

    def run(_):
        return _topk(IndexSearcher(spark, index_dir), q)

    with ThreadPoolExecutor(4) as ex:
        got = list(ex.map(run, range(4), timeout=600))
    assert got == [want] * 4
    assert spark.conf.get(key) == before
