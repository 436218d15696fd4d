"""Micro-batch serving: search_many must be rank- and score-identical
to per-query search() for every query in the batch (one distributed job
replaces N dispatches; semantics unchanged)."""

import numpy as np
import pytest
from conftest import exhaustive_topk

from rucene_spark.build import IndexWriter
from rucene_spark.query import (
    BooleanQuery,
    BoostingQuery,
    DisjunctionMaxQuery,
    MinScoreQuery,
    PhraseQuery,
    QueryStringQueryBuilder,
    RangeQuery,
    SpanNearQuery,
    SpanTermQuery,
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


def _bits(score):
    return np.float32(score).view(np.int32).item()


def _rows(df):
    return [(r["doc_id"], _bits(r["score"])) for r in df.collect()]


def _by_qid(rows):
    out = {}
    for r in rows:
        out.setdefault(r["qid"], []).append((r["doc_id"], _bits(r["score"])))
    return out


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
        # positional leaves and the nodes that batch with them
        PhraseQuery.build("text", ["order", "fast"], slop=2),
        SpanNearQuery([SpanTermQuery("text", "agg"),
                       SpanTermQuery("text", "part")], slop=1,
                      in_order=True),
        SpanNearQuery([SpanTermQuery("text", "part"),
                       SpanTermQuery("text", "agg")], slop=2,
                      in_order=False),
        BooleanQuery.build(
            [PhraseQuery.build("text", ["window", "join"], slop=0)],
            [TermQuery("text", "table")], [], []),
        DisjunctionMaxQuery([PhraseQuery.build("text", ["data", "slow"]),
                             TermQuery("text", "scan")], 0.2),
        BoostingQuery(TermQuery("text", "table"), TermQuery("text", "query"),
                      0.3),
        MinScoreQuery(BooleanQuery.build(
            [], [TermQuery("text", "table"), TermQuery("text", "scan")],
            [], []), 0.5),
        # a docmeta-backed clause: its own branch of the batch
        BooleanQuery.build([TermQuery("text", "table")],
                           [TermQuery("text", "scan")],
                           [RangeQuery("n_chars", 0, 400)], []),
    ]
    by_qid = _by_qid(s.search_many(queries, 10).collect())
    for i, q in enumerate(queries):
        want = _rows(s.search(q, 10))
        assert want or isinstance(q, TermQuery), f"qid {i} matches nothing"
        assert by_qid.get(i, []) == want, f"qid {i}"


def test_search_many_plan_cached(spark, idx):
    s = IndexSearcher(spark, idx)
    queries = [TermQuery("text", "table"), TermQuery("text", "query")]
    df1 = s.search_many(queries, 5)
    df2 = s.search_many(queries, 5)
    assert df1 is df2  # same planned DataFrame object on the second call
    assert df1.count() == 10


def test_search_many_empty_batch(spark, idx):
    """An empty batch returns no rows, with the columns of a non-empty
    batch's result."""
    s = IndexSearcher(spark, idx)
    empty = s.search_many([], 5)
    assert empty.collect() == []
    assert empty.columns == s.search_many(
        [TermQuery("text", "table")], 5).columns


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
    by_qid = _by_qid(s.search_many(queries, 10).collect())
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
    by_qid = _by_qid(s.search_many([q, q2], 10).collect())
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
    assert [(r["doc_id"], _bits(r["score"])) for r in got] == _rows(
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


def test_search_many_tombstoned_equals_exhaustive(spark, idx, tmp_path):
    """On a tombstoned index every root masks the deleted docs in the
    worker: each query's batched top-k must equal the exhaustive witness
    (the live-masked frame), with no deleted doc returned."""
    import shutil

    from rucene_spark.merge import delete_by_keys

    d = str(tmp_path / "many_tomb_idx")
    shutil.copytree(idx, d)
    top = IndexSearcher(spark, d).search(
        TermQuery("text", "table"), 3).collect()
    deleted = {r["doc_id"] for r in top}
    delete_by_keys(d, sorted(deleted))
    s = IndexSearcher(spark, d)
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
    for r in s.search_many(queries, 10).collect():
        by_qid.setdefault(r["qid"], []).append(r)
    for i, q in enumerate(queries):
        got = by_qid.get(i, [])
        assert _seg_rows(got) == _seg_rows(exhaustive_topk(s, q, 10)), \
            f"qid {i}: {q!r}"
        assert not deleted & {r["doc_id"] for r in got}


def test_collector_seg_reduce_all_groups_unsatisfied():
    """Kernel-level regression (found by tests/test_merged_fuzz.py): a
    segment where every nested boolean group misses its requirement
    left the old boolean reduce with zero root rows and zero virtual
    clauses, and the empty boundary-mask build crashed with IndexError.
    The plan evaluator's per-segment function must return no rows."""
    import numpy as np

    from rucene_spark.search import _seg_outputs

    def leaf_of(postings):
        def leaf(node, tomb=None, k=None):
            d, v = postings.get(node[1], ((), ()))
            return (np.asarray(d, dtype=np.int64),
                    np.asarray(v, dtype=np.float64))
        return leaf

    t = [("term", kid, kid) for kid in range(4)]
    # root: should-groups, msm 1. Group A needs must t0 (with should
    # t1); group B needs 2 of its shoulds t2, t3
    group_a = ("bool", [t[0]], [t[1]], [], [], 0)
    group_b = ("bool", [], [t[2], t[3]], [], [], 2)
    plan = [(0, ("bool", [], [group_a, group_b], [], [], 1))]
    postings = {1: ([5], [0.25]), 2: ([5], [0.125])}
    for k in (10, None):
        assert list(_seg_outputs(plan, leaf_of(postings), None, k,
                                 True)) == []

    # control: add group A's must -> the group is satisfied and the doc
    # comes back with the group's f32-rounded score
    postings[0] = ([5], [0.5])
    for k in (10, None):
        ((oid, d3, s3),) = _seg_outputs(plan, leaf_of(postings), None, k,
                                        True)
        assert oid == 0 and list(d3) == [5]
        assert np.float32(s3[0]) == np.float32(0.75)
