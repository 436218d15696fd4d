"""Doc-range-sharded merged segments: a merge whose postings exceed the
shard target writes MULTIPLE doc-disjoint files (blocks cut at shard
boundaries, SegmentMerger.merge) so collector-kernel scan parallelism
survives compaction; every query family must stay rank- and
score-identical to the unsharded layout, with deletes folded in and
offsets/payloads sidecars carried."""

import os

import pandas as pd
import pytest

from rucene_spark import storage
from rucene_spark.build import IndexWriter, load_manifest, seg_table_paths
from rucene_spark.merge import SegmentMerger, delete_by_keys
from rucene_spark.query import (
    BooleanQuery,
    PhraseQuery,
    SpanNearQuery,
    SpanTermQuery,
    TermQuery,
)
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus, term_df_spectrum


@pytest.fixture(scope="module")
def corpus() -> pd.DataFrame:
    return make_corpus(600, seed=23)


@pytest.fixture(scope="module")
def qterms(corpus):
    dfs = term_df_spectrum(corpus)
    plain = [t for t in dfs.index if t.startswith("t0")]
    return plain[0], plain[len(plain) // 3], plain[-1]


def _build(spark, corpus, d, n_segments=6):
    IndexWriter(spark, d, n_segments=n_segments).build(
        spark.createDataFrame(corpus[["url", "text", "lang"]]))
    return d


def _queries(hi, mid, corpus):
    words = corpus["text"].iloc[0].split()
    return {
        "term": TermQuery("text", hi),
        "bool": BooleanQuery.build(
            [TermQuery("text", mid)], [TermQuery("text", hi)], [], []),
        "phrase": PhraseQuery.build("text", [words[0], words[1]], slop=0),
        "span": SpanNearQuery(
            [SpanTermQuery("text", words[0]), SpanTermQuery("text", words[2])],
            slop=3, in_order=True),
    }


def _results(searcher, queries, k=25):
    out = {}
    for name, q in queries.items():
        rows = searcher.search(q, k).collect()
        out[name] = [(r["url"], round(float(r["score"]), 5)) for r in rows]
    return out


def _postings_files(d, seg_row):
    p = os.path.join(d, "postings", seg_row["dir"])
    return [f for f in storage.listdir(p) if f.endswith(".parquet")]


def test_sharded_merge_rank_identical(spark, corpus, qterms, tmp_path):
    """Sharded vs single-file merge of the SAME index (same deletes, same
    post-merge stats): results must be value-identical — the shard layout
    is purely physical."""
    hi, mid, rare = qterms
    queries = _queries(hi, mid, corpus)
    victims = corpus["url"].iloc[25:55].tolist()

    # control: identical index, deletes folded by an UNSHARDED merge
    dc = _build(spark, corpus, str(tmp_path / "control"))
    delete_by_keys(dc, victims)
    crow = SegmentMerger(spark, dc).merge([0, 1, 2, 3, 4, 5])
    assert crow["doc_sharded"] is False
    want = _results(IndexSearcher(spark, dc), queries)

    # tiny shard target forces a multi-file doc-sharded merged segment
    d = _build(spark, corpus, str(tmp_path / "idx"))
    delete_by_keys(d, victims)
    row = SegmentMerger(spark, d, shard_bytes=1, max_shards=5).merge(
        [0, 1, 2, 3, 4, 5])
    assert row["doc_sharded"] is True
    files = _postings_files(d, row)
    assert len(files) > 1, "expected a multi-file sharded layout"

    # the searcher must ACCEPT the sharded layout (the open-time layout
    # check rejects only unflagged multi-file segments)
    s = IndexSearcher(spark, d)
    assert _results(s, queries) == want
    # count fast path agrees too
    assert s.count(TermQuery("text", rare)) == len(
        [1 for _, r in corpus.iterrows()
         if rare in r["text"].split() and r["url"] not in set(victims)])


def test_shard_files_are_doc_disjoint(spark, corpus, qterms, tmp_path):
    d = _build(spark, corpus, str(tmp_path / "idx"))
    row = SegmentMerger(spark, d, shard_bytes=1, max_shards=4).merge(
        [0, 1, 2, 3, 4, 5])
    p = os.path.join(d, "postings", row["dir"])
    ranges = []
    for f in sorted(_postings_files(d, row)):
        t = storage.read_parquet(os.path.join(p, f),
                                 columns=["first_doc", "last_doc"])
        if t.num_rows == 0:
            continue
        import numpy as np
        lo = int(np.min(t["first_doc"].to_numpy()))
        hi_ = int(np.max(t["last_doc"].to_numpy()))
        ranges.append((lo, hi_))
    assert len(ranges) > 1
    ranges.sort()
    for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo, f"overlapping shard doc ranges: {ranges}"


def test_single_shard_merge_stays_single_file(spark, corpus, qterms,
                                              tmp_path):
    d = _build(spark, corpus, str(tmp_path / "idx"))
    row = SegmentMerger(spark, d).merge([0, 1, 2])  # default 128 MiB target
    assert row["doc_sharded"] is False
    assert len(_postings_files(d, row)) == 1
    IndexSearcher(spark, d)  # opens: the layout check passes


def test_sharded_merge_carries_payloads(spark, tmp_path):
    # payload sidecar survives a sharded merge (per-row carry rule)
    rows = [{"url": f"u{i:03d}",
             "text": " ".join(f"w{j}|P{i}_{j}" for j in range(8)),
             "lang": "en"} for i in range(80)]
    d = str(tmp_path / "idx")
    IndexWriter(spark, d, n_segments=4, analyzer="delimited_payload").build(
        spark.createDataFrame(rows))
    delete_by_keys(d, ["u003", "u011"])
    row = SegmentMerger(spark, d, shard_bytes=1, max_shards=3).merge(
        [0, 1, 2, 3])
    assert row["doc_sharded"] is True and len(_postings_files(d, row)) > 1
    s = IndexSearcher(spark, d)
    hits = s.search(TermQuery("text", "w5"), 100).collect()
    assert len(hits) == 78
    by_url = {r["url"]: (r["seg"], r["doc"]) for r in hits}
    for i in (0, 10, 40, 79):
        seg, doc = by_url[f"u{i:03d}"]
        assert s.payloads("text", "w5", seg, doc) == [
            (5, f"P{i}_5".encode())]


def test_sharded_then_resharded_merge(spark, corpus, qterms, tmp_path):
    """Cascading merges over already-sharded inputs stay correct (the
    first_doc block re-key never grows, unlike a rank-multiplied id)."""
    hi, mid, _ = qterms
    queries = _queries(hi, mid, corpus)
    d = _build(spark, corpus, str(tmp_path / "idx"), n_segments=8)
    before = _results(IndexSearcher(spark, d), queries)
    SegmentMerger(spark, d, shard_bytes=1, max_shards=3).merge([0, 1, 2, 3])
    SegmentMerger(spark, d, shard_bytes=1, max_shards=3).merge([4, 5, 6, 7])
    m = load_manifest(d)
    run = [s["segment_id"] for s in m["segments"]]
    row = SegmentMerger(spark, d, shard_bytes=1, max_shards=4).merge(run)
    assert row["doc_sharded"] is True
    s = IndexSearcher(spark, d)
    assert _results(s, queries) == before
