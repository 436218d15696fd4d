"""Pure-Python/numpy oracle engine — the engine-of-record for rank-identity.

A deliberately simple single-process implementation of the reference
semantics (SURVEY.md §2.7, FIXTURES.md §3). Every Spark query result is
asserted rank-identical (doc ids and float32 score bits) against this.

Faithfulness notes (all with reference citations):

* indexed tf = ``min(tf, 10)`` and only the first 10 positions are kept
  (posting_writer.rs:641,649-662; postings/mod.rs:82);
* ``ttf`` sums the *capped* tf (posting_writer.rs:632-642), so avgdl is
  computed over capped lengths while the norm byte encodes the uncapped
  field length (doc_consumer.rs:813-821);
* collection/term stats are global over all segments (our documented
  divergence from rucene's largest-segment shortcut, searcher.rs:306-363);
* clause scores accumulate in float64 WITHIN a query node and cast to
  float32 at each node boundary — every ``Scorer::score()`` in the
  reference returns f32 (conjunction_scorer.rs:87,
  disjunction_scorer.rs:211), so a nested boolean/dismax hands its parent
  an f32, and the Spark engine mirrors that with a float32 score column
  per node frame. The f64 accumulation *inside* a node is our documented
  divergence from the reference's order-dependent f32 running sum,
  required for deterministic distributed execution; the engine does
  exactly the same (JVM ``sum`` over the float column is a double);
* top-k tie-break: score desc, then (segment_id, doc_id) asc — the intended
  semantics of the reference collector (top_docs.rs:67-76 strict ``>``
  replacement; collapse_top_docs.rs:186-202).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

from .analysis import batch_tokenize
from .bm25 import TERM_FREQ_LIMIT, avgdl32, idf32, norm_cache32
from .phrase import exact_phrase_freq, sloppy_phrase_freq
from .query import (
    BooleanQuery,
    BoostingQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    ExistsQuery,
    MatchAllDocsQuery,
    MinScoreQuery,
    PhraseQuery,
    Query,
    RangeQuery,
    TermQuery,
)
from .segmenting import hash_segment, range_segment
from .smallfloat import encode_norm_value

K1 = np.float32(1.2)


@dataclass
class _Posting:
    tf: int
    positions: np.ndarray  # capped at TERM_FREQ_LIMIT entries


class OracleIndex:
    def __init__(self) -> None:
        self.postings: dict[tuple[str, str], dict[tuple[int, int], _Posting]] = {}
        # per-field doc stats, keyed (field, (seg, local)) — the bag-of-
        # fields model: each field has independent norms (field.rs:23-29)
        self.doc_len: dict[tuple[str, tuple[int, int]], int] = {}
        self.norm_byte: dict[tuple[str, tuple[int, int]], int] = {}
        self.key_of: dict[tuple[int, int], object] = {}
        self.values: dict[tuple[int, int], dict] = {}
        self.fields: list[str] = []
        self.doc_count = 0
        self.sum_ttf = 0
        self.sum_ttf_f: dict[str, int] = {}
        self.term_stats: dict[tuple[str, str], tuple[int, int]] = {}

    # -- stats ---------------------------------------------------------
    def df(self, field: str, term: str) -> int:
        return self.term_stats.get((field, term), (0, 0))[0]


def build_oracle_index(
    pdf: pd.DataFrame,
    text_col: str = "text",
    key_col: str = "url",
    n_segments: int = 4,
    partitioner: str = "hash",
    analyzer: str = "whitespace",
    field: str = "text",
    fields: list[tuple[str, str]] | None = None,
) -> OracleIndex:
    fields = list(fields) if fields else [(field, text_col)]
    idx = OracleIndex()
    idx.fields = [fn for fn, _ in fields]
    if partitioner == "hash":
        segs = hash_segment(pdf[key_col], n_segments)
    elif partitioner == "range":
        keys = pdf[key_col].to_numpy()
        segs = range_segment(pdf[key_col], n_segments, int(keys.min()), int(keys.max()))
    else:
        raise ValueError(partitioner)

    field_cols = {c for _, c in fields}
    value_cols = [c for c in pdf.columns if c not in field_cols]
    for seg in sorted(set(segs.tolist())):
        sub = pdf[segs == seg].sort_values(key_col, kind="stable").reset_index(drop=True)
        for local in range(len(sub)):
            docid = (int(seg), local)
            idx.key_of[docid] = sub[key_col].iloc[local]
            idx.values[docid] = {c: sub[c].iloc[local] for c in value_cols}
        for fname, col in fields:
            di, terms, pos = batch_tokenize(sub[col].tolist(), mode=analyzer)
            lens = np.zeros(len(sub), dtype=np.int64)
            if di.size:
                np.add.at(lens, di, 1)
            nb = encode_norm_value(1.0, np.maximum(lens, 1))
            for local in range(len(sub)):
                docid = (int(seg), local)
                idx.doc_len[(fname, docid)] = int(lens[local])
                idx.norm_byte[(fname, docid)] = (
                    int(nb[local]) if lens[local] > 0 else 0)
            # group (doc, term) → tf + positions
            tokens = pd.DataFrame({"d": di, "t": terms, "p": pos})
            for (local, term), grp in tokens.groupby(["d", "t"], sort=False):
                tf_raw = len(grp)
                tf = min(tf_raw, TERM_FREQ_LIMIT)
                plist = np.sort(grp["p"].to_numpy())[:tf]
                key = (fname, str(term))
                idx.postings.setdefault(key, {})[(int(seg), int(local))] = (
                    _Posting(tf, plist))

    idx.doc_count = len(pdf)
    for key, plists in idx.postings.items():
        df = len(plists)
        ttf = sum(p.tf for p in plists.values())
        idx.term_stats[key] = (df, ttf)
        idx.sum_ttf_f[key[0]] = idx.sum_ttf_f.get(key[0], 0) + ttf
    idx.sum_ttf = idx.sum_ttf_f.get(fields[0][0], 0)
    return idx


# ---------------------------------------------------------------------------
# search
# ---------------------------------------------------------------------------


class _Matches:
    """Evaluation result: doc → f64 score accumulator (or None for pure
    match-sets from non-scoring clauses)."""

    def __init__(self, scores: dict[tuple[int, int], float]):
        self.scores = scores

    def docs(self):
        return set(self.scores)


class OracleSearcher:
    def __init__(self, index: OracleIndex, field: str = "text",
                 similarity: dict | None = None):
        """``similarity``: field → (k1, b), mirroring IndexSearcher's
        SimilarityProducer surface; defaults (1.2, 0.75)."""
        self.idx = index
        self.field = field
        sim = dict(similarity or {})
        self.sim_f = {f: tuple(map(float, sim.get(f, (1.2, 0.75))))
                      for f in (index.fields or [field])}
        self.cache_f = {
            f: norm_cache32(
                avgdl32(index.sum_ttf_f.get(f, 0), index.doc_count),
                k1=self.sim_f[f][0], b=self.sim_f[f][1])
            for f in (index.fields or [field])
        }
        self.avgdl = avgdl32(index.sum_ttf, index.doc_count)
        self.cache = self.cache_f.get(field, norm_cache32(self.avgdl))

    def _k1f(self, field: str) -> np.float32:
        return np.float32(self.sim_f.get(field, (1.2, 0.75))[0])

    def _field_cache(self, field: str) -> np.ndarray:
        if field not in self.cache_f:
            raise ValueError(
                f"unknown field {field!r}; index has {list(self.cache_f)}")
        return self.cache_f[field]

    # -- public --------------------------------------------------------
    def search(self, query: Query, k: int = 10) -> list[tuple[object, np.float32]]:
        m = self._eval(query, np.float32(1.0), needs_scores=True)
        ranked = sorted(
            ((np.float32(s), d) for d, s in m.scores.items()),
            key=lambda t: (-float(t[0]), t[1]),
        )
        return [(self.idx.key_of[d], s, d) for (s, d) in ranked[:k]]

    def count(self, query: Query) -> int:
        return len(self._eval(query, np.float32(1.0), needs_scores=False).scores)

    # -- evaluation ----------------------------------------------------
    def _eval(self, q: Query, boost: np.float32, needs_scores: bool) -> _Matches:
        if isinstance(q, TermQuery):
            return self._term(q, boost)
        if isinstance(q, BoostQuery):
            return self._eval(q.query, np.float32(boost * np.float32(q.boost)), needs_scores)
        if isinstance(q, ConstantScoreQuery):
            inner = self._eval(q.query, np.float32(1.0), needs_scores=False)
            s = float(np.float32(boost * np.float32(q.boost)))
            return _Matches({d: s for d in inner.docs()})
        if isinstance(q, MatchAllDocsQuery):
            s = float(np.float32(boost))
            return _Matches({d: s for d in self.idx.key_of})
        if isinstance(q, MinScoreQuery):
            # min_scorer.rs:69-71 — strictly greater than
            inner = self._eval(q.query, boost, needs_scores=True)
            return _Matches({d: s for d, s in inner.scores.items()
                             if s > q.min_score})
        if isinstance(q, BooleanQuery):
            return self._boolean(q, boost, needs_scores)
        if isinstance(q, PhraseQuery):
            return self._phrase(q, boost)
        from .query import SpanQuery
        if isinstance(q, SpanQuery):
            return self._span(q, boost)
        if isinstance(q, DisjunctionMaxQuery):
            subs = [self._eval(d, boost, needs_scores) for d in q.disjuncts]
            out: dict[tuple[int, int], float] = {}
            tie = float(q.tie_breaker)
            all_docs = set().union(*(s.docs() for s in subs)) if subs else set()
            for d in all_docs:
                vals = [s.scores[d] for s in subs if d in s.scores]
                mx = max(vals)
                # f32 at the node boundary (DisjunctionMaxScorer f32)
                out[d] = float(np.float32(mx + tie * (sum(vals) - mx)))
            return _Matches(out)
        if isinstance(q, BoostingQuery):
            pos = self._eval(q.positive, boost, needs_scores)
            neg = self._eval(q.negative, np.float32(1.0), needs_scores=False)
            nb = float(q.negative_boost)
            # f32 at the node boundary (engine casts score*nb to float32)
            return _Matches(
                {d: (float(np.float32(s * nb)) if d in neg.scores else s)
                 for d, s in pos.scores.items()}
            )
        if isinstance(q, RangeQuery):
            s = float(np.float32(boost))
            out = {}
            for d, vals in self.idx.values.items():
                v = vals.get(q.column)
                if v is None:
                    continue
                if q.lower is not None and v < q.lower:
                    continue
                if q.upper is not None and v > q.upper:
                    continue
                out[d] = s
            return _Matches(out)
        if isinstance(q, ExistsQuery):
            s = float(np.float32(boost))
            return _Matches(
                {d: s for d, vals in self.idx.values.items() if vals.get(q.column) is not None}
            )
        from .query import MultiRangeQuery
        if isinstance(q, MultiRangeQuery):
            s = float(np.float32(boost))
            out = {}
            for d, vals in self.idx.values.items():
                ok = True
                for col, lo, hi in q.ranges:
                    v = vals.get(col)
                    if v is None or (lo is not None and v < lo) \
                            or (hi is not None and v > hi):
                        ok = False
                        break
                if ok:
                    out[d] = s
            return _Matches(out)
        raise TypeError(f"unsupported query: {type(q)}")

    def _term(self, q: TermQuery, boost: np.float32) -> _Matches:
        cache = self._field_cache(q.field)
        plists = self.idx.postings.get((q.field, q.term))
        if not plists:
            return _Matches({})
        df, _ = self.idx.term_stats[(q.field, q.term)]
        weight = np.float32(idf32(df, self.idx.doc_count) * np.float32(boost * np.float32(q.boost)))
        out = {}
        for d, p in plists.items():
            tf = np.float32(p.tf)
            norm = cache[self.idx.norm_byte[(q.field, d)]]
            score = np.float32(
                weight * (self._k1f(q.field) + np.float32(1.0)) * tf
                / (tf + norm))
            out[d] = float(score)
        return _Matches(out)

    def _phrase(self, q: PhraseQuery, boost: np.float32) -> _Matches:
        cache = self._field_cache(q.field)
        plists = [self.idx.postings.get((q.field, t), {}) for t in q.terms]
        if any(not p for p in plists):
            return _Matches({})
        dfs = [self.idx.term_stats[(q.field, t)][0] for t in q.terms]
        idf_total = np.float32(0.0)
        for df in dfs:
            idf_total = np.float32(idf_total + idf32(df, self.idx.doc_count))
        weight = np.float32(idf_total * boost)
        candidates = set(plists[0])
        for p in plists[1:]:
            candidates &= set(p)
        out = {}
        for d in candidates:
            pos_lists = [p[d].positions for p in plists]
            if q.slop == 0:
                freq = np.float32(exact_phrase_freq(pos_lists, q.positions))
            else:
                freq = sloppy_phrase_freq(pos_lists, q.positions, q.terms, q.slop)
            if freq > 0:
                norm = cache[self.idx.norm_byte[(q.field, d)]]
                score = np.float32(
                    weight * (self._k1f(q.field) + np.float32(1.0)) * freq
                    / (freq + norm)
                )
                out[d] = float(score)
        return _Matches(out)

    def _span(self, q, boost: np.float32) -> _Matches:
        """Span queries via the shared kernels (spans.py) — same candidate
        rule as the engine: >=1 term of every top-level near clause."""
        from .query import SpanGapQuery, SpanNearQuery, span_spec, span_terms
        from .spans import span_freq

        cache = self._field_cache(q.field)
        terms = span_terms(q)
        uniq = sorted(set(terms))
        ti_of = {t: i for i, t in enumerate(uniq)}
        spec = span_spec(q, ti_of)

        idf_total = np.float32(0.0)
        for t in terms:
            df = self.idx.term_stats.get((q.field, t), (0, 0))[0]
            idf_total = np.float32(idf_total + idf32(df, self.idx.doc_count))
        weight = np.float32(idf_total * boost)

        if isinstance(q, SpanNearQuery):
            groups = [span_terms(c) for c in q.clauses
                      if not isinstance(c, SpanGapQuery)]
        else:
            groups = [terms]
        group_docs = []
        for g in groups:
            docs: set = set()
            for t in g:
                docs |= set(self.idx.postings.get((q.field, t), {}))
            group_docs.append(docs)
        cand = set.intersection(*group_docs) if group_docs else set()

        out = {}
        for d in cand:
            pos_map = {
                ti_of[t]: self.idx.postings[(q.field, t)][d].positions
                for t in uniq
                if d in self.idx.postings.get((q.field, t), {})
            }
            freq = span_freq(spec, pos_map)
            if freq > 0:
                norm = cache[self.idx.norm_byte[(q.field, d)]]
                score = np.float32(
                    weight * (self._k1f(q.field) + np.float32(1.0)) * freq
                    / (freq + norm))
                out[d] = float(score)
        return _Matches(out)

    def _boolean(self, q: BooleanQuery, boost: np.float32, needs_scores: bool) -> _Matches:
        musts = [self._eval(m, boost, needs_scores) for m in q.musts]
        shoulds = [self._eval(s, boost, needs_scores) for s in q.shoulds]
        filters = [self._eval(f, np.float32(1.0), False) for f in q.filters]
        must_nots = [self._eval(n, np.float32(1.0), False) for n in q.must_nots]

        if musts or filters:
            cand = None
            for m in musts + filters:
                cand = m.docs() if cand is None else (cand & m.docs())
        else:
            cand = set()
            for s in shoulds:
                cand |= s.docs()
        for n in must_nots:
            cand -= n.docs()

        msm = q.min_should_match
        out = {}
        for d in cand:
            matched = [s.scores[d] for s in shoulds if d in s.scores]
            if len(matched) < msm:
                continue
            total = 0.0  # f64 accumulation within the node
            for m in musts:
                total += m.scores[d]
            total += sum(matched)
            # f32 at the node boundary: BooleanScorer.score() -> f32
            # (module docstring; the engine's plan evaluator, _eval_node,
            # rounds every node the same way)
            out[d] = float(np.float32(total))
        return _Matches(out)
