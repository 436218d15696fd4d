"""Physical-plan audits: the properties that make the engine viable at
100 TB must be visible in the plans Catalyst actually produces.

* postings scans push the term predicate into the Parquet reader
  (the blocktree-seek analogue — row-group pruning on the sorted term
  column does the seeking);
* scans prune columns (a top-k search must not read position bytes);
* the final hit join broadcasts the tiny top-k side, and its sort is a
  ``TakeOrderedAndProject`` (no range-partition sample job, no
  single-partition docmeta scan), so a warm term search runs ≤3 jobs
  and a repeated one ≤1;
* a nested phrase shuffles no position arrays;
* a nested boolean of terms reduces in its scan task (no (seg, doc)
  shuffle);
* a postings-only query tree of any shape reads postings once and
  shuffles no (seg, doc);
* a tree with a docmeta-backed leaf reads postings once and shuffles
  once by (seg, doc), however deep its booleans nest;
* the block-max collector's scan pushes its term filter.
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from rucene_spark.build import IndexWriter
from rucene_spark.query import (ConstantScoreQuery, QueryStringQueryBuilder,
                                TermQuery)
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(300, seed=13)


@pytest.fixture(scope="module")
def searcher(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("audit_idx"))
    IndexWriter(spark, d, n_segments=2).build(
        spark.createDataFrame(corpus.drop(columns=["html"])))
    return IndexSearcher(spark, d)


def _physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def _postings_scans(plan: str) -> int:
    """FileScan nodes over the postings table (the only table with a
    ``docs_bin`` column) in a physical plan."""
    return sum("FileScan" in line and "docs_bin" in line
               for line in plan.splitlines())


def test_term_scan_pushes_predicate_and_prunes_columns(searcher):
    frame = searcher._frame(TermQuery("text", "t000000"),
                            __import__("numpy").float32(1.0), True)
    plan = _optimized(frame)
    assert "PushedFilters" in plan
    assert "EqualTo(term,t000000)" in plan.replace(" ", "")
    # column pruning: a scoring scan must not read the position bytes
    import re
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    assert m and "pos_bin" not in m.group(1), m.group(0)


def test_multi_term_scan_pushes_in_filter(searcher):
    q = QueryStringQueryBuilder("t000000 t000001", [("text", 1.0)]).build()
    frame = searcher._frame(q, __import__("numpy").float32(1.0), True)
    plan = _optimized(frame)
    assert "PushedFilters" in plan and "In(term" in plan


def test_topk_join_is_broadcast(searcher):
    out = searcher.search(TermQuery("text", "t000000"), 10)
    plan = _physical_plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def _tail_cases(searcher):
    from rucene_spark.query import BooleanQuery, RangeQuery

    term = TermQuery("text", "t000000")
    filtered = BooleanQuery.build([TermQuery("text", "t000001")], [],
                                  [RangeQuery("lang", "en", "en")], [])
    return [searcher.search(term, 10), searcher.search(filtered, 10),
            searcher.search_many([term], 10),
            searcher.search_many([term, filtered], 10)]


@pytest.mark.parametrize("i", range(4), ids=[
    "search_term", "search_range_filter", "many_term", "many_mixed"])
def test_topk_tail_needs_no_sort_exchange(searcher, i):
    """The hits of search() and search_many() — a term query and a
    boolean with a RangeQuery filter — are sorted by a
    TakeOrderedAndProject over the broadcast docmeta join: no
    range-partition exchange (a sample job plus a shuffle of the whole
    docmeta scan) and no single-partition coalesce of that scan."""
    plan = _physical_plan(_tail_cases(searcher)[i])
    assert "Exchange rangepartitioning" not in plan, plan
    assert "Coalesce 1" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_warm_term_search_runs_at_most_three_jobs(spark, searcher):
    """A term search whose stats are cached (a k=3 search first — a
    distinct plan, so nothing of it is reused but the stats) runs the
    plan scan under the broadcast and the docmeta join: ≤3 jobs. (k=7:
    the executed plan is memoized, and no other test plans this key.)"""
    q = TermQuery("text", "t000003")
    searcher.search(q, 3).collect()
    sc = spark.sparkContext
    group = "plan_audit_warm_term"
    sc.setJobGroup(group, "warm term search")
    try:
        rows = searcher.search(q, 7).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_repeated_search_runs_at_most_one_job(spark, searcher):
    """A repeated search(q, k) on one searcher gets the memoized
    DataFrame, which keeps its executed adaptive plan (broadcast
    included): the second call reruns only the docmeta join over the
    first call's top-k, ≤1 job. (k=6: no other test plans this key.)"""
    q = TermQuery("text", "t000003")
    first = searcher.search(q, 6).collect()
    sc = spark.sparkContext
    group = "plan_audit_repeated_search"
    sc.setJobGroup(group, "repeated search")
    try:
        rows = searcher.search(q, 6).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows and rows == first
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1


def test_nested_phrase_shuffles_no_positions(searcher):
    """A phrase inside a boolean runs the per-segment leaf in its scan
    task: no position array is aggregated or shuffled between tasks."""
    from rucene_spark.query import BooleanQuery, PhraseQuery

    q = BooleanQuery.build(
        [PhraseQuery.build("text", ["t000000", "t000001"], slop=1)],
        [TermQuery("text", "t000002")])
    plan = _optimized(searcher.search(q, 10))
    assert "collect_list" not in plan
    assert "positions" not in plan and "array<bigint>" not in plan


def test_nested_term_boolean_shuffles_no_seg_doc(searcher):
    """A boolean of terms under ConstantScoreQuery runs the per-segment
    term collector: the must/should arithmetic, one nested group
    included, reduces inside the scan task — no (seg, doc) exchange."""
    import numpy as np

    q = ConstantScoreQuery(QueryStringQueryBuilder(
        "+t000000 +(t000001 t000002)", [("text", 1.0)]).build())
    plan = _physical_plan(searcher._frame(q, np.float32(1.0), True))
    assert "Exchange hashpartitioning(seg" not in plan, plan


def test_postings_only_trees_scan_once_without_seg_shuffle(searcher,
                                                          corpus):
    """Random postings-only trees (terms, phrases, spans under nested
    booleans, dismax, boost and constant-score nodes) run as one
    per-segment plan: the search() root and the nested _frame() both
    read postings in exactly one scan and have no (seg, doc) exchange."""
    from conftest import corpus_query_material, random_query_tree

    vocab, bigrams = corpus_query_material(corpus)
    rng = np.random.default_rng(20261018)
    trees = [random_query_tree(rng, vocab, bigrams) for _ in range(10)]
    shapes = "".join(map(repr, trees))
    assert "BooleanQuery(musts" in shapes and "PhraseQuery" in shapes
    for q in trees:
        for df in (searcher.search(q, 10),
                   searcher._frame(q, np.float32(1.0), True)):
            plan = _physical_plan(df)
            assert "Exchange hashpartitioning(seg" not in plan, repr(q)
            assert _postings_scans(plan) == 1, (repr(q), plan)


def test_range_clause_boolean_reads_postings_once(searcher):
    """A boolean mixing a RangeQuery clause with two term clauses takes
    the rows evaluation, and its term clauses share one postings
    scan."""
    from rucene_spark.query import BooleanQuery, RangeQuery

    q = BooleanQuery.build([TermQuery("text", "t000000")],
                           [TermQuery("text", "t000001")],
                           [RangeQuery("lang", "en", "en")], [])
    assert _postings_scans(_physical_plan(searcher.search(q, 10))) == 1


def _docmeta_trees():
    from rucene_spark.query import (BooleanQuery, BoostingQuery,
                                    DisjunctionMaxQuery, ExistsQuery,
                                    PhraseQuery, RangeQuery)

    t = [TermQuery("text", f"t00000{i}") for i in range(4)]
    rng = RangeQuery("lang", "en", "en")
    return [
        BooleanQuery.build([], [t[0], t[1]], [rng], []),
        DisjunctionMaxQuery(
            [rng, PhraseQuery.build("text", ["t000000", "t000001"])], 0.1),
        BoostingQuery(t[0], rng, 0.5),
        BooleanQuery.build([], [BooleanQuery.build([ExistsQuery("lang")],
                                                   [t[2]], [], []), t[3]],
                           [], []),
        BooleanQuery.build([t[0]], [], [BooleanQuery.build([rng], [t[1]],
                                                           [], [])], []),
    ]


@pytest.mark.parametrize("i", range(5), ids=[
    "range_filter", "dismax_range", "boosting_range", "nested",
    "nested_filter"])
def test_docmeta_tree_shuffles_once(searcher, i):
    """A tree with a docmeta-backed leaf — a range filter, a dismax over
    a range and a phrase, a BoostingQuery with a range negative, a
    boolean nesting an ExistsQuery must, a boolean whose filter is a
    boolean with a range must — reads postings in one scan and shuffles
    once by (seg, doc) whatever its depth (with no query cache, an
    unscored child compiles into the tree)."""
    plan = _physical_plan(searcher.search(_docmeta_trees()[i], 10))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert _postings_scans(plan) == 1, plan


def test_search_many_mixed_batch_reads_postings_twice(searcher):
    """A search_many batch mixing postings-only and docmeta-backed
    queries reads postings at most twice: one plan scan for the
    postings-only queries, one for the others' postings subtrees."""
    queries = [TermQuery("text", "t000000"),
               QueryStringQueryBuilder("t000001 +t000002",
                                       [("text", 1.0)]).build(),
               *_docmeta_trees()]
    plan = _physical_plan(searcher.search_many(queries, 10))
    assert _postings_scans(plan) <= 2, plan


def test_blockmax_scan_pushes_in_filter(searcher):
    """The BMW collector's postings scan pushes the term IN filter into
    the Parquet reader (block pruning itself runs in the kernel)."""
    out = searcher.search_blockmax(["t000000", "t000001"], 5)
    plan = _optimized(out)
    assert "PushedFilters" in plan and "In(term" in plan


def test_tokenizer_stage_is_single_shuffle(spark, tmp_path_factory):
    """The build dataflow has exactly ONE wide exchange (by segment_id)."""
    corpus = make_corpus(200, seed=17)
    df = spark.createDataFrame(corpus.drop(columns=["html"]))
    from rucene_spark.build import IndexWriter as IW
    w = IW(spark, str(tmp_path_factory.mktemp("one_shuffle")), n_segments=2)
    src = w._with_segment_id(df.select("url", "text"))
    plan = src.groupBy("segment_id").count()._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange") <= 2  # groupBy partial+final only


def test_ivf_assign_is_shuffle_free(spark):
    """IVF cell assignment must be a single scan projection — the K
    centroids are inlined literals, so no join and no exchange (at 100 TB
    a K×N shuffle of cross-joined rows would dominate the job)."""
    import numpy as np
    from rucene_spark.ann import ivf_assign
    rng = np.random.default_rng(9)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = _physical_plan(ivf_assign(df))
    core = plan.split("Sort")[-1]  # below the presentation orderBy
    assert "Join" not in core
    assert "Exchange hashpartitioning" not in core


def test_events_rollup_single_exchange(spark):
    """The tumbling-window rollup is one partial-aggregated shuffle."""
    import datetime
    from rucene_spark.events import window_rollup
    rows = [(i, datetime.datetime(2024, 1, 1, i % 24, 0, 0), i % 5,
             "click", 1.0, "{}") for i in range(100)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
              " event_type string, value double, props string")
    plan = _physical_plan(window_rollup(df))
    assert plan.count("Exchange hashpartitioning") == 1
