"""Live docs under a heavy delete load, checked against the oracle.

Every root masks tombstones in its scan task at any delete count. The
index here stresses that mask:

* more docs are deleted than stay live;
* one whole segment is deleted;
* one key is updated twice, in two later commits, so its first two
  copies are hidden and only the newest is visible.

The reference answer is the method of
``test_merged_fuzz.py::test_tombstoned_matches_oracle``: an oracle over
EVERY physical doc (deleted docs keep their df/ttf until merge, so its
stats are the engine's) whose complete ranking drops the dead docs.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import corpus_query_material, random_query_tree
from rucene_spark.build import IndexWriter, load_manifest
from rucene_spark.merge import delete_by_keys
from rucene_spark.oracle import (OracleIndex, OracleSearcher,
                                 build_oracle_index)
from rucene_spark.query import (BooleanQuery, MatchAllDocsQuery, TermQuery)
from rucene_spark.search import IndexSearcher
from rucene_spark.segmenting import hash_segment
from rucene_spark.webtext import make_corpus

N_DOCS = 360
N_SEG = 4
SEED = 20261021


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(N_DOCS, seed=13).drop(columns=["html"])


def _writer(spark, d):
    return IndexWriter(spark, d, n_segments=N_SEG, key_col="url")


def _oracle(parts) -> OracleIndex:
    """One oracle index over ``parts`` = ``[(pdf, n_segments, first_seg)]``:
    each part's segments renumbered from ``first_seg``, stats over all."""
    idx = OracleIndex()
    for pdf, n, first in parts:
        o = build_oracle_index(pdf, n_segments=n)

        def mv(d):
            return (d[0] + first, d[1])

        idx.fields = o.fields
        idx.doc_count += o.doc_count
        idx.key_of.update({mv(d): v for d, v in o.key_of.items()})
        idx.values.update({mv(d): v for d, v in o.values.items()})
        idx.doc_len.update({(f, mv(d)): v for (f, d), v in o.doc_len.items()})
        idx.norm_byte.update(
            {(f, mv(d)): v for (f, d), v in o.norm_byte.items()})
        for key, plist in o.postings.items():
            idx.postings.setdefault(key, {}).update(
                {mv(d): p for d, p in plist.items()})
    for key, plist in idx.postings.items():
        ttf = sum(p.tf for p in plist.values())
        idx.term_stats[key] = (len(plist), ttf)
        idx.sum_ttf_f[key[0]] = idx.sum_ttf_f.get(key[0], 0) + ttf
    idx.sum_ttf = idx.sum_ttf_f.get(idx.fields[0], 0)
    return idx


@pytest.fixture(scope="module")
def live(spark, corpus, tmp_path_factory):
    """``(index_dir, oracle, dead docids, updated key)``."""
    d = str(tmp_path_factory.mktemp("live_docs_idx"))
    _writer(spark, d).build(spark.createDataFrame(corpus))
    segs = hash_segment(corpus["url"], N_SEG)
    # all of segment 0, and two of every three docs elsewhere
    dead_keys = set(corpus["url"][(segs == 0)
                                  | (np.arange(N_DOCS) % 3 != 0)])
    delete_by_keys(d, sorted(dead_keys))
    updated = corpus["url"][(segs != 0) & (np.arange(N_DOCS) % 3 == 0)].iloc[0]
    parts = [(corpus, N_SEG, 0)]
    for tag, src in (("zzold", 1), ("zznew", 2)):
        row = corpus[corpus["url"] == updated].copy()
        row["text"] = f"{tag} " + corpus["text"].iloc[src]
        first_seg = int(load_manifest(d)["segment_counter"])
        _writer(spark, d).update_documents(spark.createDataFrame(row),
                                           n_segments=1)
        parts.append((row, 1, first_seg))
    orc = _oracle(parts)
    newest = parts[-1][2]
    dead = {doc for doc, key in orc.key_of.items()
            if key in dead_keys or (key == updated and doc[0] != newest)}
    return d, orc, dead, updated


def test_fixture_shape(live):
    d, orc, dead, updated = live
    assert len(dead) > orc.doc_count - len(dead)
    seg0 = {doc for doc in orc.key_of if doc[0] == 0}
    assert seg0 and seg0 <= dead
    copies = sorted(doc for doc, key in orc.key_of.items() if key == updated)
    assert len(copies) == 3 and set(copies[:2]) <= dead
    assert copies[2] not in dead


def _want(orc, dead, q, k):
    return [(u, np.float32(sc).view(np.int32).item())
            for u, sc, doc in OracleSearcher(orc).search(q, orc.doc_count)
            if doc not in dead][:k]


def _got(rows):
    return [(r["url"], np.float32(r["score"]).view(np.int32).item())
            for r in rows]


def _trees(corpus, n):
    vocab, bigrams = corpus_query_material(corpus)
    rng = np.random.default_rng(SEED)
    return ([TermQuery("text", "zznew"), TermQuery("text", "zzold")]
            + [random_query_tree(rng, vocab, bigrams) for _ in range(n)])


def test_search_matches_oracle(spark, corpus, live):
    d, orc, dead, updated = live
    s = IndexSearcher(spark, d)
    failures = []
    for i, q in enumerate(_trees(corpus, 20)):
        got, want = _got(s.search(q, 10).collect()), _want(orc, dead, q, 10)
        if got != want:
            failures.append(f"#{i}: engine={got[:3]} oracle={want[:3]} "
                            f":: {q!r}"[:400])
    assert not failures, "\n".join(failures)
    # the newest copy of the twice-updated key is the only one visible
    assert [u for u, _ in _got(s.search(TermQuery("text", "zznew"))
                               .collect())] == [updated]
    assert s.search(TermQuery("text", "zzold")).collect() == []


def test_search_many_matches_oracle(spark, corpus, live):
    d, orc, dead, _ = live
    s = IndexSearcher(spark, d)
    trees = _trees(corpus, 20)
    by_qid = {}
    for r in s.search_many(trees, 10).collect():
        by_qid.setdefault(r["qid"], []).append(r)
    for i, q in enumerate(trees):
        assert _got(by_qid.get(i, [])) == _want(orc, dead, q, 10), repr(q)


def test_blockmax_matches_oracle(spark, corpus, live):
    d, orc, dead, _ = live
    s = IndexSearcher(spark, d)
    vocab, _ = corpus_query_material(corpus)
    for terms in ([vocab[0], vocab[1]], [vocab[2], vocab[6], "zznew"],
                  [vocab[7], "zzold"]):
        got = s.search_blockmax(terms, 10).collect()
        want = _want(orc, dead, BooleanQuery.build(
            [], [TermQuery("text", t) for t in terms], [], []), 10)
        assert [r["url"] for r in got] == [u for u, _ in want], terms
        assert [float(r["score"]) for r in got] == pytest.approx(
            [float(np.int32(b).view(np.float32)) for _, b in want],
            rel=1e-6)


def _matches(orc, dead, q):
    m = OracleSearcher(orc)._eval(q, np.float32(1.0), needs_scores=False)
    return {doc for doc in m.scores if doc not in dead}


def test_count_matches_oracle(spark, corpus, live):
    d, orc, dead, _ = live
    s = IndexSearcher(spark, d)
    vocab, _ = corpus_query_material(corpus)
    t = [TermQuery("text", x) for x in vocab[:8]]
    nested = BooleanQuery.build(
        [t[0]], [BooleanQuery.build([], [t[1], t[2]], [], [t[3]]), t[4]],
        [BooleanQuery.build([], [t[5], t[6]], [], [])], [t[7]])
    assert s.count(MatchAllDocsQuery()) == orc.doc_count - len(dead)
    for q in [*t, TermQuery("text", "zznew"), TermQuery("text", "zzold"),
              nested]:
        assert s.count(q) == len(_matches(orc, dead, q)), repr(q)


@pytest.mark.parametrize("early", [False, True])
def test_search_sorted_matches_oracle(spark, corpus, live, early):
    d, orc, dead, _ = live
    s = IndexSearcher(spark, d)
    vocab, _ = corpus_query_material(corpus)
    q = BooleanQuery.build([], [TermQuery("text", vocab[0]),
                                TermQuery("text", "zznew"),
                                TermQuery("text", "zzold")], [], [])
    want = sorted(orc.key_of[x] for x in _matches(orc, dead, q))
    for k in (15, orc.doc_count):
        got = [r["url"] for r in s.search_sorted(
            q, [F.asc("url")], k, early_terminate=early).collect()]
        assert got == want[:k], k


def test_concurrent_searchers_leave_arrow_conf_unchanged(spark, live):
    """Four threads each open a searcher on the tombstoned index and
    search it, each materializing its own tombstone memo: every thread
    gets the single-threaded result, and the session's Arrow conf is
    the same afterwards (the tombstone transfer never flips it)."""
    from concurrent.futures import ThreadPoolExecutor

    d = live[0]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    q = TermQuery("text", "zznew")
    want = _got(IndexSearcher(spark, d).search(q, 10).collect())

    def run(_):
        return _got(IndexSearcher(spark, d).search(q, 10).collect())

    with ThreadPoolExecutor(4) as ex:
        got = list(ex.map(run, range(4), timeout=600))
    assert got == [want] * 4
    assert spark.conf.get(key) == before
