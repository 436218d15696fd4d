import shutil
import tempfile

import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("rucene-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_index():
    d = tempfile.mkdtemp(prefix="rucene_idx_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


# ---------------------------------------------------------------------------
# shared fuzz helpers (test_engine_parity, test_merged_fuzz)
# ---------------------------------------------------------------------------


def corpus_query_material(corpus):
    """(vocab, bigrams) for random query trees: head/mid/tail-df terms from
    the corpus plus guaranteed misses, and real adjacent-token bigrams."""
    from collections import Counter

    toks = [t for text in corpus["text"].head(60) for t in text.split(" ")]
    by_freq = [t for t, _ in Counter(toks).most_common()]
    vocab = (by_freq[:5] + by_freq[len(by_freq) // 2:len(by_freq) // 2 + 10]
             + by_freq[-10:] + ["zz_missing_a", "zz_missing_b"])
    bigrams = []
    for text in corpus["text"].head(30):
        ts = text.split(" ")
        for i in range(0, min(len(ts) - 1, 8)):
            bigrams.append((ts[i], ts[i + 1]))
    return vocab, bigrams


# docmeta bounds for random_query_tree(docmeta=True), over the
# webtext.make_corpus columns: ``lang`` values and ``url`` site prefixes
_LANGS = (None, "de", "en", "zh")
_SITES = tuple(f"https://site{n:04d}" for n in (0, 1, 2, 5, 40, 200))


def random_docmeta_leaf(rng):
    """A random docmeta-backed leaf: a RangeQuery or ExistsQuery over
    ``lang``, a MultiRangeQuery over ``url`` (and sometimes ``lang``),
    or a MatchAllDocsQuery."""
    from rucene_spark.query import (ExistsQuery, MatchAllDocsQuery,
                                    MultiRangeQuery, RangeQuery)

    r = rng.random()
    if r < 0.4:
        lo, hi = sorted(int(x) for x in rng.integers(len(_LANGS), size=2))
        return RangeQuery("lang", _LANGS[lo], _LANGS[hi] if hi else None)
    if r < 0.55:
        return ExistsQuery("lang")
    if r < 0.85:
        lo, hi = sorted(int(x) for x in rng.choice(len(_SITES), 2,
                                                   replace=False))
        ranges = [("url", _SITES[lo], _SITES[hi])]
        if rng.random() < 0.5:
            ranges.append(("lang", "en", "en"))
        return MultiRangeQuery(ranges)
    return MatchAllDocsQuery()


def random_query_tree(rng, vocab, bigrams, depth=0, extended=False,
                      docmeta=False):
    """One random query tree: terms (incl. misses), exact/sloppy phrases
    over real and fake bigrams, spans, dismax/boost/constant wrappers and
    nested booleans with msm/filters/must_nots. ``extended`` adds
    BoostingQuery and MinScoreQuery nodes; ``docmeta`` turns some leaves
    into docmeta-backed ones (random_docmeta_leaf). Without them the
    tree stream of a seed is the one it has always been."""
    from rucene_spark.query import (BooleanQuery, BoostingQuery, BoostQuery,
                                    ConstantScoreQuery, DisjunctionMaxQuery,
                                    MinScoreQuery, PhraseQuery, SpanNearQuery,
                                    SpanTermQuery, TermQuery)

    def sub():
        return random_query_tree(rng, vocab, bigrams, depth + 1, extended,
                                 docmeta)

    r = rng.random()
    if depth >= 2 or r < 0.30:
        if docmeta and rng.random() < 0.35:
            return random_docmeta_leaf(rng)
        return TermQuery("text", vocab[int(rng.integers(len(vocab)))])
    if r < 0.45:
        a, b = bigrams[int(rng.integers(len(bigrams)))]
        terms = [a, b]
        if rng.random() < 0.2:
            terms.append(vocab[int(rng.integers(len(vocab)))])
        return PhraseQuery.build("text", terms, slop=int(rng.integers(0, 3)))
    if r < 0.55:
        a, b = bigrams[int(rng.integers(len(bigrams)))]
        return SpanNearQuery(
            [SpanTermQuery("text", a), SpanTermQuery("text", b)],
            slop=int(rng.integers(0, 4)),
            in_order=bool(rng.random() < 0.5))
    if r < 0.63:
        subs = [sub() for _ in range(2 + int(rng.integers(2)))]
        return DisjunctionMaxQuery(subs, float(rng.random() * 0.5))
    if r < 0.69:
        return ConstantScoreQuery(sub(), float(1 + rng.random()))
    if r < 0.75:
        return BoostQuery(sub(), float(0.5 + rng.random()))
    if extended and r < 0.81:
        return BoostingQuery(sub(), sub(), float(0.1 + 0.8 * rng.random()))
    if extended and r < 0.87:
        # a cutoff inside the score range of the fuzz corpora
        return MinScoreQuery(sub(), float(2.0 * rng.random()))
    musts = [sub() for _ in range(int(rng.integers(0, 3)))]
    shoulds = [sub() for _ in range(int(rng.integers(0, 3)))]
    must_nots = [sub() for _ in range(int(rng.integers(0, 2)))]
    filters = [sub() for _ in range(int(rng.integers(0, 2)))]
    if not (musts or shoulds or filters):
        shoulds = [sub()]
    msm = (int(rng.integers(0, len(shoulds) + 1))
           if shoulds and not musts else 0)
    return BooleanQuery.build(musts, shoulds, filters, must_nots,
                              min_should_match=msm)


def exhaustive_topk(searcher, q, k):
    """Exhaustive witness for a root query's top-k: the query's nested
    frame (every phrase/span candidate verified, no impact pruning),
    live-masked and ordered like search() → [Row(seg, doc, score)]."""
    import numpy as np
    from pyspark.sql import functions as F

    return (searcher._live(searcher._frame(q, np.float32(1.0), True))
            .orderBy(F.desc("score"), "seg", "doc").limit(k)
            .select("seg", "doc", "score").collect())
