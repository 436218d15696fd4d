"""Micro-batch serving: search_many must be rank- and score-identical
to per-query search() for every query in the batch (one distributed job
replaces N dispatches; semantics unchanged)."""

import pytest
from conftest import exhaustive_topk

from rucene_spark.build import IndexWriter
from rucene_spark.query import (
    BooleanQuery,
    DisjunctionMaxQuery,
    PhraseQuery,
    QueryStringQueryBuilder,
    TermQuery,
)
from rucene_spark.search import IndexSearcher


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = str(tmp_path_factory.mktemp("many_idx"))
    IndexWriter(spark, d, n_segments=4, key_col="doc_id",
                partitioner="range").build(docs)
    return d


def _rows(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def test_search_many_matches_per_query(spark, idx):
    s = IndexSearcher(spark, idx)
    queries = [
        TermQuery("text", "table"),
        QueryStringQueryBuilder("table +query", [("text", 1.0)]).build(),
        BooleanQuery.build(
            [TermQuery("text", "scan")], [TermQuery("text", "table")], [], []),
        DisjunctionMaxQuery([TermQuery("text", "table"),
                             TermQuery("text", "query")], 0.3),
        PhraseQuery.build("text", ["key", "agg"], slop=0),
        BooleanQuery.build(
            [], [TermQuery("text", "table"), TermQuery("text", "query"),
                 TermQuery("text", "scan")], [], [], min_should_match=2),
        BooleanQuery.build(
            [TermQuery("text", "table")], [], [],
            [TermQuery("text", "query")]),
        BooleanQuery.build(
            [], [TermQuery("text", "table", boost=2.5),
                 TermQuery("text", "scan", boost=0.5)], [], []),
        BooleanQuery.build(
            [TermQuery("text", "table")], [], [TermQuery("text", "query")],
            []),
        TermQuery("text", "tzzzzzz"),  # absent term: zero rows for qid
        # nested one-level groups (batched via virtual root clauses)
        QueryStringQueryBuilder("table +(query scan)",
                                [("text", 1.0)]).build(),
        QueryStringQueryBuilder("(table query) +(scan key)",
                                [("text", 1.0)]).build(),
        QueryStringQueryBuilder("+table (query scan^2)",
                                [("text", 1.0)]).build(),
        BooleanQuery.build(
            [], [TermQuery("text", "table")], [],
            [BooleanQuery.build([], [TermQuery("text", "query"),
                                     TermQuery("text", "scan")], [], [],
                                min_should_match=2)]),
    ]
    batch = s.search_many(queries, 10).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append(
            (r["doc_id"], round(r["score"], 6)))
    for i, q in enumerate(queries):
        assert by_qid.get(i, []) == _rows(s.search(q, 10)), f"qid {i}"


def test_search_many_plan_cached(spark, idx):
    s = IndexSearcher(spark, idx)
    queries = [TermQuery("text", "table"), TermQuery("text", "query")]
    df1 = s.search_many(queries, 5)
    df2 = s.search_many(queries, 5)
    assert df1 is df2  # same planned DataFrame object on the second call
    assert df1.count() == 10


def test_search_many_with_deletes(spark, idx, tmp_path):
    """Collector kernel must mask tombstones in-worker BEFORE per-segment
    ranks are assigned — a deleted doc may not occupy a top-k slot (same
    semantics as the per-query _live anti-join)."""
    import shutil

    from rucene_spark.merge import delete_by_keys

    d = str(tmp_path / "del_idx")
    shutil.copytree(idx, d)
    s0 = IndexSearcher(spark, d)
    # delete the current top-2 docs for "table" so ranks must shift
    top = s0.search(TermQuery("text", "table"), 2).collect()
    delete_by_keys(d, [r["doc_id"] for r in top])
    s = IndexSearcher(spark, d)
    queries = [
        TermQuery("text", "table"),
        BooleanQuery.build(
            [], [TermQuery("text", "table"), TermQuery("text", "query")],
            [], [], min_should_match=1),
    ]
    batch = s.search_many(queries, 10).collect()
    by_qid = {}
    for r in batch:
        by_qid.setdefault(r["qid"], []).append(
            (r["doc_id"], round(r["score"], 6)))
    deleted = {r["doc_id"] for r in top}
    for i, q in enumerate(queries):
        assert by_qid.get(i, []) == _rows(s.search(q, 10)), f"qid {i}"
        assert not deleted & {d_ for d_, _ in by_qid.get(i, [])}


def test_search_many_post_merge_multi_term(spark, idx, tmp_path):
    """Merged segments must stay collector-safe: the merge writes
    postings as ONE file per segment, so sort-order-distant terms of one
    query cannot split across scan partitions (regression: multi-file
    merged segments made the partition-local boolean reduce drop every
    doc whose clauses landed in different files)."""
    import glob
    import shutil

    from rucene_spark.build import load_manifest, seg_table_paths
    from rucene_spark.merge import force_merge

    d = str(tmp_path / "many_merged")
    shutil.copytree(idx, d)
    force_merge(spark, d)
    m = load_manifest(d)
    for p in seg_table_paths(d, m, "postings"):
        assert len(glob.glob(p + "/*.parquet")) == 1
    s = IndexSearcher(spark, d)
    # terms chosen sort-order-apart so a range-partitioned multi-file
    # layout would put them in different files
    q = BooleanQuery.build(
        [TermQuery("text", "agg"), TermQuery("text", "zone")], [], [], [])
    q2 = BooleanQuery.build(
        [], [TermQuery("text", "table"), TermQuery("text", "scan")],
        [], [], min_should_match=2)
    got = s.search_many([q, q2], 10).collect()
    by_qid = {}
    for r in got:
        by_qid.setdefault(r["qid"], []).append((r["doc_id"], round(r["score"], 6)))
    assert by_qid.get(0, []) == _rows(s.search(q, 10))
    assert by_qid.get(1, []) == _rows(s.search(q2, 10))


def test_search_many_legacy_multifile_rejected(spark, idx, tmp_path):
    """A pre-fix index whose merged segment holds MULTIPLE postings files
    (not doc-sharded) must never reach the partition-local kernels: the
    searcher refuses to open it, naming the segment and force_merge; after
    force_merge it opens and returns the reference results."""
    import glob
    import os
    import shutil

    import pyarrow.parquet as pq

    from rucene_spark.build import load_manifest, seg_table_paths
    from rucene_spark.merge import force_merge

    d = str(tmp_path / "many_legacy")
    shutil.copytree(idx, d)
    m = load_manifest(d)
    p0 = seg_table_paths(d, m, "postings")[0]
    f0 = glob.glob(p0 + "/*.parquet")[0]
    t = pq.read_table(f0)
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), os.path.join(p0, "part-a.parquet"))
    pq.write_table(t.slice(half), os.path.join(p0, "part-b.parquet"))
    os.remove(f0)
    with pytest.raises(ValueError,
                       match=f"segment {m['segments'][0]['segment_id']} "
                             ".*force_merge"):
        IndexSearcher(spark, d)
    force_merge(spark, d)
    s = IndexSearcher(spark, d)
    q = BooleanQuery.build(
        [TermQuery("text", "table"), TermQuery("text", "query")], [], [], [])
    got = s.search_many([q], 10).collect()
    ref = IndexSearcher(spark, idx)
    assert [(r["doc_id"], round(r["score"], 6)) for r in got] == _rows(
        ref.search(q, 10))
    pqry = PhraseQuery.build("text", ["key", "agg"], slop=0)
    assert _rows(s.search(pqry, 10)) == _rows(ref.search(pqry, 10))


def _seg_rows(rows):
    return [(r["seg"], r["doc"], float(r["score"])) for r in rows]


def test_single_query_collector_routing(spark, idx):
    """search() runs flattenable term/boolean roots through the
    per-segment collector's top-k; it must be rank- and score-identical
    to the exhaustive witness (every matching row, ordered + limited)."""
    queries = [
        TermQuery("text", "table"),
        BooleanQuery.build(
            [TermQuery("text", "scan")], [TermQuery("text", "table")],
            [], []),
        BooleanQuery.build(
            [], [TermQuery("text", "table", boost=2.5),
                 TermQuery("text", "query"),
                 TermQuery("text", "scan")], [], [], min_should_match=2),
        QueryStringQueryBuilder("+table (query scan^2)",
                                [("text", 1.0)]).build(),
        TermQuery("text", "tzzzzzz"),  # absent term
    ]
    s = IndexSearcher(spark, idx)
    for q in queries:
        assert (_seg_rows(s.search(q, 10).collect())
                == _seg_rows(exhaustive_topk(s, q, 10))), repr(q)


def test_dismax_collector_routing(spark, idx):
    """Root dismax through the per-segment collector's top-k must be
    rank- and score-identical to the exhaustive witness, including
    boosted disjuncts and tie_breaker values."""
    cases = [
        DisjunctionMaxQuery([TermQuery("text", "table"),
                             TermQuery("text", "query")], 0.3),
        DisjunctionMaxQuery([TermQuery("text", "table", boost=2.0),
                             TermQuery("text", "scan"),
                             TermQuery("text", "key")], 0.0),
        DisjunctionMaxQuery([TermQuery("text", "table"),
                             TermQuery("text", "tzzzzzz")], 1.0),
    ]
    s = IndexSearcher(spark, idx)
    for q in cases:
        assert (_seg_rows(s.search(q, 10).collect())
                == _seg_rows(exhaustive_topk(s, q, 10))), repr(q)


def test_search_many_above_tomb_cap(spark, idx, tmp_path, monkeypatch):
    """Above the tombstone broadcast cap the batch collector emits every
    satisfied row and the shuffle anti-join removes deleted docs; each
    query's top-k must equal per-query search() under the broadcast
    route, with no deleted doc returned."""
    import shutil

    from rucene_spark.merge import delete_by_keys

    d = str(tmp_path / "many_cap_idx")
    shutil.copytree(idx, d)
    top = IndexSearcher(spark, d).search(
        TermQuery("text", "table"), 3).collect()
    deleted = {r["doc_id"] for r in top}
    delete_by_keys(d, sorted(deleted))
    bcast = IndexSearcher(spark, d)
    assert bcast._bcast_deleted
    monkeypatch.setenv("RUCENE_TOMB_BCAST_CAP", "0")
    shuf = IndexSearcher(spark, d)
    assert not shuf._bcast_deleted
    queries = [
        TermQuery("text", "table"),
        QueryStringQueryBuilder("table +query", [("text", 1.0)]).build(),
        QueryStringQueryBuilder("table +(query scan)",
                                [("text", 1.0)]).build(),
        BooleanQuery.build(
            [], [TermQuery("text", "table"), TermQuery("text", "query"),
                 TermQuery("text", "scan")], [], [], min_should_match=2),
        DisjunctionMaxQuery([TermQuery("text", "table"),
                             TermQuery("text", "query")], 0.3),
        PhraseQuery.build("text", ["key", "agg"], slop=0),
    ]
    by_qid = {}
    for r in shuf.search_many(queries, 10).collect():
        by_qid.setdefault(r["qid"], []).append(
            (r["doc_id"], float(r["score"])))
    for i, q in enumerate(queries):
        want = [(r["doc_id"], float(r["score"]))
                for r in bcast.search(q, 10).collect()]
        assert by_qid.get(i, []) == want, f"qid {i}: {q!r}"
        assert not deleted & {d_ for d_, _ in want}


def test_collector_seg_reduce_all_groups_unsatisfied():
    """Kernel-level regression (found by tests/test_merged_fuzz.py): a
    batch whose rows are ALL group clauses with no group satisfied left
    stage 2 with zero root rows and zero virtual clauses — the empty
    boundary-mask build crashed with IndexError. Must return empty."""
    import numpy as np

    from rucene_spark.search import _collector_seg_reduce

    # one query (qid 0): a single should-group (gid 1) that REQUIRES one
    # must (g_nm=1), but the only row present is a should inside it
    doc = np.array([5], dtype=np.int64)
    qid = np.array([0], dtype=np.int64)
    gid = np.array([1], dtype=np.int64)
    role = np.array([1], dtype=np.int64)   # should, inside the group
    sc = np.array([0.25], dtype=np.float64)
    g_role = np.array([0, 1], dtype=np.int64)   # group sits as root should
    g_nm = np.array([0, 1], dtype=np.int64)     # group needs 1 must
    g_nf = np.zeros(2, dtype=np.int64)
    g_ms = np.zeros(2, dtype=np.int64)
    r_nm = np.zeros(1, dtype=np.int64)
    r_nf = np.zeros(1, dtype=np.int64)
    r_ms = np.ones(1, dtype=np.int64)
    q3, d3, s3 = _collector_seg_reduce(
        doc, qid, gid, role, sc, g_role, g_nm, g_nf, g_ms,
        r_nm, r_nf, r_ms, None, True, np.float32, 10)
    assert len(q3) == 0 and len(d3) == 0 and len(s3) == 0

    # control: add the required must row -> the group satisfies and the
    # doc comes back with the group's f32-rounded score
    doc2 = np.array([5, 5], dtype=np.int64)
    gid2 = np.array([1, 1], dtype=np.int64)
    role2 = np.array([0, 1], dtype=np.int64)
    sc2 = np.array([0.5, 0.25], dtype=np.float64)
    q3, d3, s3 = _collector_seg_reduce(
        doc2, np.zeros(2, dtype=np.int64), gid2, role2, sc2,
        g_role, g_nm, g_nf, g_ms, r_nm, r_nf, r_ms, None, True,
        np.float32, 10)
    assert list(d3) == [5] and s3[0] == np.float32(0.75)
