"""Phrase and span queries NESTED inside other queries, checked against
the oracle.

Every positional leaf shape (exact, sloppy and repeated-term phrases;
ordered and unordered span nears) is placed in each nested role — boolean
must / should / filter / must_not, the BoostingQuery negative, inside
ConstantScoreQuery and inside FilterQuery — and the engine's top-k and
count() must equal the oracle's bit for bit, under both scoring modes.

``OracleSearcher`` scores in the float32 "lucene" mode and has no
FilterQuery; ``_Oracle`` below adds the FilterQuery predicate (mirrored on
the docmeta ``lang`` column) and a float64 "precise" mode with the
engine's precise formula and op order. Precise booleans here never sum
more than two scored clauses, so the float64 sum is order-independent.

With tombstones the oracle's scores cannot be consulted (deleted docs
stay in the stats until merge), so the roots' in-worker tombstone mask
must agree with the exhaustive witness (``conftest.exhaustive_topk``, the
live-masked frame) and never return a deleted key, and each leaf's count
must be the oracle's match set less the deleted keys.
"""

import collections

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import exhaustive_topk
from rucene_spark.build import IndexWriter
from rucene_spark.merge import delete_by_keys
from rucene_spark.oracle import (OracleSearcher, _Matches,
                                 build_oracle_index)
from rucene_spark.phrase import exact_phrase_freq, sloppy_phrase_freq
from rucene_spark.query import (BooleanQuery, BoostingQuery,
                                ConstantScoreQuery, FilterQuery, PhraseQuery,
                                SpanNearQuery, SpanTermQuery, TermQuery,
                                span_spec, span_terms)
from rucene_spark.search import IndexSearcher
from rucene_spark.spans import span_freq
from rucene_spark.webtext import make_corpus

N_DOCS = 500
N_SEG = 4
K = 10
LANG = "en"


class _Oracle(OracleSearcher):
    """OracleSearcher + FilterQuery(lang == LANG) + optional precise mode."""

    def __init__(self, index, precise: bool):
        super().__init__(index)
        self.precise = precise
        self.avgdl64 = index.sum_ttf / index.doc_count

    def _idf64(self, field, t):
        df = self.idx.df(field, t)
        n = self.idx.doc_count
        return float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))

    def _score64(self, field, idf64, boost, freq, d):
        k1, b = self.sim_f[field]
        coef = (idf64 * float(boost)) * 2.2
        dl = self.idx.doc_len[(field, d)]
        return coef * freq / (freq + k1 * ((1.0 - b) + b * dl / self.avgdl64))

    def search(self, query, k=10):
        if not self.precise:
            return super().search(query, k)
        m = self._eval(query, np.float32(1.0), needs_scores=True)
        ranked = sorted(m.scores.items(), key=lambda t: (-t[1], t[0]))[:k]
        return [(self.idx.key_of[d], s, d) for d, s in ranked]

    def _eval(self, q, boost, needs_scores):
        if isinstance(q, FilterQuery):
            inner = self._eval(q.query, boost, needs_scores)
            return _Matches({d: s for d, s in inner.scores.items()
                             if self.idx.values[d]["lang"] == LANG})
        if self.precise and isinstance(q, BoostingQuery):
            pos = self._eval(q.positive, boost, needs_scores)
            neg = self._eval(q.negative, np.float32(1.0), False)
            nb = float(q.negative_boost)
            return _Matches({d: (s * nb if d in neg.scores else s)
                             for d, s in pos.scores.items()})
        return super()._eval(q, boost, needs_scores)

    def _term(self, q, boost):
        if not self.precise:
            return super()._term(q, boost)
        b = float(np.float32(boost * np.float32(q.boost)))
        idf = self._idf64(q.field, q.term)
        return _Matches({
            d: self._score64(q.field, idf, b, float(p.tf), d)
            for d, p in self.idx.postings.get((q.field, q.term), {}).items()})

    def _phrase(self, q, boost):
        if not self.precise:
            return super()._phrase(q, boost)
        plists = [self.idx.postings.get((q.field, t), {}) for t in q.terms]
        if any(not p for p in plists):
            return _Matches({})
        idf = 0.0
        for t in q.terms:
            idf += self._idf64(q.field, t)
        out = {}
        for d in set.intersection(*(set(p) for p in plists)):
            pls = [p[d].positions for p in plists]
            freq = float(exact_phrase_freq(pls, q.positions) if q.slop == 0
                         else sloppy_phrase_freq(pls, q.positions, q.terms,
                                                 q.slop))
            if freq > 0:
                out[d] = self._score64(q.field, idf, boost, freq, d)
        return _Matches(out)

    def _span(self, q, boost):
        if not self.precise:
            return super()._span(q, boost)
        terms = span_terms(q)
        uniq = sorted(set(terms))
        ti_of = {t: i for i, t in enumerate(uniq)}
        spec = span_spec(q, ti_of)
        idf = 0.0
        for t in terms:
            idf += self._idf64(q.field, t)
        cand = set.intersection(*(
            set(self.idx.postings.get((q.field, t), {})) for t in uniq))
        out = {}
        for d in cand:
            pos_map = {ti_of[t]: self.idx.postings[(q.field, t)][d].positions
                       for t in uniq}
            freq = float(span_freq(spec, pos_map))
            if freq > 0:
                out[d] = self._score64(q.field, idf, boost, freq, d)
        return _Matches(out)

    def _boolean(self, q, boost, needs_scores):
        if not self.precise:
            return super()._boolean(q, boost, needs_scores)
        m = super()._boolean(q, boost, needs_scores)
        # recompute the f64 sums without the node-boundary f32 cast
        musts = [self._eval(x, boost, needs_scores) for x in q.musts]
        shoulds = [self._eval(x, boost, needs_scores) for x in q.shoulds]
        out = {}
        for d in m.scores:
            total = 0.0
            for x in musts:
                total += x.scores[d]
            total += sum(s.scores[d] for s in shoulds if d in s.scores)
            out[d] = total
        return _Matches(out)


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(N_DOCS, seed=5).drop(columns=["html"])


@pytest.fixture(scope="module")
def index_dir(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nested_pos"))
    IndexWriter(spark, d, n_segments=N_SEG, key_col="url").build(
        spark.createDataFrame(corpus))
    return d


@pytest.fixture(scope="module")
def oracle_index(corpus):
    return build_oracle_index(corpus, n_segments=N_SEG)


def _leaves(corpus):
    """The positional shapes: exact, sloppy and repeated-term phrases over
    the corpus's most common bigram, plus ordered and unordered spans."""
    big = collections.Counter()
    for text in corpus["text"]:
        w = text.split(" ")
        big.update(zip(w, w[1:]))
    (a, b), _ = big.most_common(1)[0]
    sa, sb = SpanTermQuery("text", a), SpanTermQuery("text", b)
    return {
        "exact": PhraseQuery.build("text", [a, b], slop=0),
        "sloppy": PhraseQuery.build("text", [b, a], slop=3),
        "repeated": PhraseQuery.build("text", [a, b, a], slop=4),
        "span_ordered": SpanNearQuery([sa, sb], slop=1, in_order=True),
        "span_unordered": SpanNearQuery([sb, sa], slop=2, in_order=False),
    }


def _queries(corpus):
    """Every leaf in every nested role, keyed ``leaf/role``."""
    toks = collections.Counter(
        t for text in corpus["text"] for t in text.split(" "))
    common = TermQuery("text", toks.most_common(1)[0][0])
    mid = TermQuery("text", toks.most_common(40)[-1][0])
    out = {}
    for name, leaf in _leaves(corpus).items():
        out[f"{name}/must"] = BooleanQuery.build([leaf], [mid])
        out[f"{name}/should"] = BooleanQuery.build([], [leaf, mid])
        out[f"{name}/filter"] = BooleanQuery.build([mid], [], [leaf])
        out[f"{name}/must_not"] = BooleanQuery.build([common], [], [],
                                                     [leaf])
        out[f"{name}/boosting"] = BoostingQuery(common, leaf, 0.3)
        out[f"{name}/constant"] = ConstantScoreQuery(leaf, 2.0)
        out[f"{name}/filtered"] = FilterQuery(leaf, F.col("lang") == LANG)
    return out


def _bits(score, scoring):
    return (np.float32(score).view(np.int32).item() if scoring == "lucene"
            else np.float64(score).view(np.int64).item())


@pytest.mark.parametrize("scoring", ["lucene", "precise"])
def test_nested_positional_matches_oracle(spark, corpus, index_dir,
                                          oracle_index, scoring):
    s = IndexSearcher(spark, index_dir, scoring=scoring)
    orc = _Oracle(oracle_index, precise=scoring == "precise")
    named = list(_queries(corpus).items())
    # every shape in one search_many job (its non-flat queries take the
    # same root routing as search()); search() itself for the must role
    batch = {}
    for r in s.search_many([q for _, q in named], K).collect():
        batch.setdefault(r["qid"], []).append(
            (r["url"], _bits(r["score"], scoring)))
    failures = []
    for i, (name, q) in enumerate(named):
        want = [(key, _bits(sc, scoring)) for key, sc, _ in orc.search(q, K)]
        got = batch.get(i, [])
        if name.endswith("/must"):
            single = [(r["url"], _bits(r["score"], scoring))
                      for r in s.search(q, K).collect()]
            if single != got:
                failures.append(f"{name}: search={single[:3]} "
                                f"search_many={got[:3]}")
        if got != want:
            failures.append(f"{name}: engine={got[:3]} oracle={want[:3]}")
        if scoring == "lucene":
            n_got, n_want = s.count(q), orc.count(q)
            if n_got != n_want:
                failures.append(f"{name}: count {n_got} != {n_want}")
    assert not failures, "\n".join(failures)
    assert sum(map(bool, batch.values())) >= 30, \
        "fixture phrases must match in most roles"


def test_term_in_two_clauses_beside_phrase_matches_oracle(
        spark, corpus, index_dir, oracle_index):
    """A boolean mixing a phrase with term clauses, one term in both a
    must and a should clause: the term clauses are scored in their scan
    task and the shared term emits one row per clause, so it counts as
    two clauses and adds its score twice, like the oracle's."""
    toks = collections.Counter(
        t for text in corpus["text"] for t in text.split(" "))
    mid = TermQuery("text", toks.most_common(40)[-1][0])
    other = TermQuery("text", toks.most_common(3)[-1][0], 1.5)
    leaf = _leaves(corpus)["sloppy"]
    s = IndexSearcher(spark, index_dir, scoring="lucene")
    orc = _Oracle(oracle_index, precise=False)
    for q in (BooleanQuery.build([mid, leaf], [mid, other]),
              BooleanQuery.build([mid], [leaf, mid, other])):
        want = [(key, _bits(sc, "lucene")) for key, sc, _ in orc.search(q, K)]
        got = [(r["url"], _bits(r["score"], "lucene"))
               for r in s.search(q, K).collect()]
        assert got and got == want, repr(q)
        assert s.count(q) == orc.count(q), repr(q)


@pytest.fixture(scope="module")
def tombstoned(spark, corpus, index_dir, tmp_path_factory):
    """A copy of the index with the top hits of every leaf deleted (so the
    deletes land exactly where the positional leaves score)."""
    import shutil

    d = str(tmp_path_factory.mktemp("nested_pos_tomb") / "idx")
    shutil.copytree(index_dir, d)
    s = IndexSearcher(spark, d)
    victims = set()
    for leaf in _leaves(corpus).values():
        victims |= {r["url"] for r in s.search(leaf, 3).collect()}
    delete_by_keys(d, sorted(victims))
    return d, victims


def test_nested_positional_tombstone_routes_agree(spark, corpus, tombstoned,
                                                  oracle_index):
    d, victims = tombstoned
    leaves = list(_leaves(corpus).values())
    qs = list(_queries(corpus).values()) + leaves
    s = IndexSearcher(spark, d)
    # one batch job: search_many routes every non-flat query through
    # the same root routing as search()
    got = {}
    for r in s.search_many(qs, K).collect():
        got.setdefault(r["qid"], []).append(r)
    for i, q in enumerate(qs):
        rows = got.get(i, [])
        assert ([(r["seg"], r["doc"], r["score"]) for r in rows]
                == [(r["seg"], r["doc"], r["score"])
                    for r in exhaustive_topk(s, q, K)]), repr(q)
        assert not victims & {r["url"] for r in rows}, repr(q)
    assert sum(map(bool, got.values())) >= 30
    orc = OracleSearcher(oracle_index)
    for leaf in leaves:
        keys = {orc.idx.key_of[d_] for d_ in
                orc._eval(leaf, np.float32(1.0), False).scores}
        assert s.count(leaf) == len(keys - victims), repr(leaf)
