"""End-to-end golden suite: the Spark engine must be rank-identical (doc ids
AND float32 score bits) to the oracle on the reference query set over the
deterministic webtext corpus (FIXTURES.md §3)."""

import numpy as np
import pytest

from rucene_spark.build import IndexWriter, load_manifest
from rucene_spark.oracle import OracleSearcher, build_oracle_index
from rucene_spark.query import (
    BooleanQuery,
    BoostingQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    ExistsQuery,
    MatchAllDocsQuery,
    MinScoreQuery,
    QueryStringQueryBuilder,
    RangeQuery,
    TermQuery,
)
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus, make_query_strings

N_DOCS = 400
N_SEG = 4


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def built(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    df = spark.createDataFrame(corpus.drop(columns=["html"]))
    writer = IndexWriter(spark, d, n_segments=N_SEG, key_col="url")
    manifest = writer.build(df)
    return d, manifest


@pytest.fixture(scope="module")
def oracle(corpus):
    idx = build_oracle_index(corpus, n_segments=N_SEG)
    return idx, OracleSearcher(idx)


def engine_hits(searcher, query, k=10):
    rows = searcher.search(query, k).collect()
    return [(r["url"], np.float32(r["score"]), (r["seg"], r["doc"])) for r in rows]


def assert_rank_identical(eng, orc, qstr=""):
    assert len(eng) == len(orc), (qstr, len(eng), len(orc))
    for i, (e, o) in enumerate(zip(eng, orc)):
        assert e[0] == o[0], (qstr, i, e, o)
        assert np.float32(e[1]).view(np.int32) == np.float32(o[1]).view(np.int32), (
            qstr, i, e[0], float(e[1]), float(o[1]),
        )


def test_manifest_stats_match_oracle(built, oracle):
    _, manifest = built
    idx, _ = oracle
    assert manifest["doc_count"] == idx.doc_count
    assert manifest["sum_ttf"] == idx.sum_ttf


def test_reference_query_set_rank_identical(spark, corpus, built, oracle):
    d, _ = built
    _, osearch = oracle
    esearch = IndexSearcher(spark, d)
    failures = []
    for qstr in make_query_strings(corpus):
        q = QueryStringQueryBuilder(qstr, [("text", 1.0)]).build()
        eng = engine_hits(esearch, q, 10)
        orc = osearch.search(q, 10)
        try:
            assert_rank_identical(eng, orc, qstr)
        except AssertionError as e:
            failures.append(str(e))
    assert not failures, "\n".join(failures)


def test_programmatic_queries_rank_identical(spark, corpus, built, oracle):
    d, _ = built
    idx, osearch = oracle
    esearch = IndexSearcher(spark, d)
    t_hi = TermQuery("text", "t000000")
    t_mid = TermQuery("text", "t000050")
    t_lo = TermQuery("text", "t000200")
    queries = [
        # must_not (no parser syntax for it — reference builds it via API)
        BooleanQuery.build([t_hi], [], [], [t_mid]),
        BooleanQuery.build([], [t_hi, t_mid], [], [t_lo]),
        # filter clause: scores must come from must only
        BooleanQuery.build([t_mid], [], [t_hi], []),
        # min_should_match = 2
        BooleanQuery.build([], [t_hi, t_mid, t_lo], [], [], min_should_match=2),
        # dis_max with tie breaker
        DisjunctionMaxQuery([t_hi, t_mid], 0.0),
        DisjunctionMaxQuery([t_hi, t_mid, t_lo], 0.3),
        # constant score
        ConstantScoreQuery(t_mid, 2.5),
        # boosting query
        BoostingQuery(t_hi, t_mid, 0.5),
        # pure negation (adds MatchAll)
        BooleanQuery.build([], [], [], [t_hi]),
        MatchAllDocsQuery(),
        # doc-values queries over stored columns
        RangeQuery("lang", "en", "en"),
        ExistsQuery("lang"),
        # min-score cutoff (min_scorer.rs): mid cutoff and cut-everything
        MinScoreQuery(t_mid, 0.05),
        MinScoreQuery(BooleanQuery.build([], [t_hi, t_mid], [], []), 0.1),
        MinScoreQuery(t_lo, 1e9),
    ]
    for q in queries:
        eng = engine_hits(esearch, q, 10)
        orc = osearch.search(q, 10)
        assert_rank_identical(eng, orc, str(q))


def test_counts_match(spark, corpus, built, oracle):
    d, _ = built
    _, osearch = oracle
    esearch = IndexSearcher(spark, d)
    for qstr in ["t000000", "t000050", "tzzzzzz", "t000000 +t000050"]:
        q = QueryStringQueryBuilder(qstr, [("text", 1.0)]).build()
        assert esearch.count(q) == osearch.count(q), qstr
    assert esearch.count(MatchAllDocsQuery()) == N_DOCS


def test_build_is_resumable_and_deterministic(spark, corpus, tmp_path_factory):
    """Re-running build() over an existing index reuses every done-marker and
    yields an identical manifest (north_rule resumability)."""
    d = str(tmp_path_factory.mktemp("idx2"))
    df = spark.createDataFrame(corpus.drop(columns=["html"]))
    w = IndexWriter(spark, d, n_segments=N_SEG, key_col="url")
    m1 = w.build(df)
    m2 = w.build(df)  # all segments resume from markers
    assert m1["segments"] == m2["segments"]
    assert m1["doc_count"] == m2["doc_count"] and m1["sum_ttf"] == m2["sum_ttf"]


def test_sort_and_collapse(spark, corpus, built, oracle):
    from pyspark.sql import functions as F

    d, _ = built
    esearch = IndexSearcher(spark, d)
    q = TermQuery("text", "t000000")
    # sort by doc_len desc — verify ordering against docmeta
    rows = esearch.search_sorted(q, [F.desc("doc_len")], 5).collect()
    lens = [r["doc_len"] for r in rows]
    assert lens == sorted(lens, reverse=True)
    # collapse by lang: one row per lang, best score first
    rows = esearch.collapse(q, "lang", 10).collect()
    langs = [r["lang"] for r in rows]
    assert len(langs) == len(set(langs))
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_search_sorted_early_termination_is_rank_safe(spark, built):
    """Per-segment pre-limit (EarlyTerminatingSortingCollector analogue)
    must return exactly the same rows as the exhaustive sorted top-k."""
    from pyspark.sql import functions as F

    d, _ = built
    s = IndexSearcher(spark, d)
    q = TermQuery("text", "t000000")
    full = [(r["url"], r["doc_len"]) for r in
            s.search_sorted(q, [F.desc("doc_len")], 7).collect()]
    et = [(r["url"], r["doc_len"]) for r in
          s.search_sorted(q, [F.desc("doc_len")], 7,
                          early_terminate=True).collect()]
    assert et == full


def test_multirange_parity(spark, built, oracle):
    from rucene_spark.query import MultiRangeQuery

    d, _ = built
    _, osearch = oracle
    s = IndexSearcher(spark, d)
    q = MultiRangeQuery([("url", "https://site00", "https://site02"),
                         ("lang", "de", "en")])
    assert s.count(q) == osearch.count(q) > 0
    eng = engine_hits(s, q, 10)
    orc = osearch.search(q, 10)
    assert_rank_identical(eng, orc, str(q))


def test_fuzz_random_query_trees_rank_identical(spark, corpus, built, oracle):
    """Seeded fuzz: 60 random query trees (terms incl. missing ones,
    phrases over real and fake bigrams, spans, nested booleans with
    msm/filters/must_nots, dismax/boost/constant/min-score) must be
    rank-identical (doc ids AND float32 score bits) to the oracle."""
    from conftest import corpus_query_material, random_query_tree

    d, _ = built
    _, osearch = oracle
    esearch = IndexSearcher(spark, d)

    vocab, bigrams = corpus_query_material(corpus)
    rng = np.random.default_rng(20260816)

    failures = []
    for i in range(60):
        q = random_query_tree(rng, vocab, bigrams)
        try:
            assert_rank_identical(engine_hits(esearch, q, 10),
                                  osearch.search(q, 10), f"fuzz#{i}")
        except AssertionError as e:
            failures.append(f"fuzz#{i}: {e} :: {q!r}"[:400])
    assert not failures, "\n".join(failures)


def test_fuzz_extended_trees_rank_identical(spark, corpus, built, oracle):
    """Seeded fuzz over the extended tree stream, which adds BoostingQuery
    and MinScoreQuery nodes at any depth: 40 trees rank- and
    float32-score-bit-identical to the oracle at the root, and equal to
    the oracle's count()."""
    from conftest import corpus_query_material, random_query_tree

    d, _ = built
    _, osearch = oracle
    esearch = IndexSearcher(spark, d)

    vocab, bigrams = corpus_query_material(corpus)
    rng = np.random.default_rng(20261018)
    trees = [random_query_tree(rng, vocab, bigrams, extended=True)
             for _ in range(40)]
    assert sum("Boosting" in repr(q) or "MinScore" in repr(q)
               for q in trees) >= 10
    failures = []
    for i, q in enumerate(trees):
        try:
            assert_rank_identical(engine_hits(esearch, q, 10),
                                  osearch.search(q, 10), f"ext#{i}")
            assert esearch.count(q) == osearch.count(q), f"ext#{i} count"
        except AssertionError as e:
            failures.append(f"ext#{i}: {e} :: {q!r}"[:400])
    assert not failures, "\n".join(failures)
