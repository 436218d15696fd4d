"""DataFrame-driven BM25 top-k searcher over a built index.

The reference's scorer trees (SURVEY.md §2.5) dissolve into relational
algebra on ``(seg, doc)``:

* postings scan      → Parquet scan of ``postings/`` with ``term`` pushdown
  (the blocktree seek becomes row-group pruning on the sorted term column);
* scorer tree        → one per-segment plan (``_postings_frame``). Every
  query tree whose leaves are term, phrase and span queries — under
  boolean (must/should/filter/must_not, msm), dismax, boost,
  constant-score, min-score and boosting nodes at any depth — compiles
  into a plan (``_compile``) that runs in ONE term-pruned scan task per
  segment with no shuffle, the way the reference drives one scorer
  tree per leaf reader (boolean_query.rs:195-279,
  conjunction_scorer.rs:20-127). Per segment the term leaves (the
  TermScorer) decode their rows once and score with vectorized BM25;
  the phrase and span leaves (Exact/SloppyPhraseScorer, span scorers)
  run the doc-level conjunction in numpy, then the shared phrase/span
  kernels verify positions on the candidates only (two-phase
  iteration, search/mod.rs:127-155); the Conjunction/DisjunctionSum/
  ReqNot/DisjunctionMax scorers become numpy set operations over
  doc-sorted arrays (``_eval_node``, the oracle's arithmetic). A root
  masks tombstones and keeps its per-segment top-k; nested use emits
  every matching (seg, doc, score) row;
* trees with a docmeta-backed leaf (range, exists, match-all and
  FilterQuery predicates) → the same nodes over "rows" leaves (postings
  subtrees from one plan scan, docmeta frames), hash-partitioned ONCE
  by (seg, doc) and combined by the same ``_eval_node``, which also
  values explain()'s nodes;
* TopDocsCollector   → ``ORDER BY score DESC, seg, doc LIMIT k``
  (TakeOrderedAndProject = per-partition heap + merge, top_docs.rs:28-172).

Scoring modes:

* ``lucene``  — float32, byte315 norms, reproduces the reference kernel
  (rank-identical to oracle.py); clause sums accumulate in f64 within a
  node and round to f32 at every node boundary (same documented
  divergence as the oracle).
* ``precise`` — float64, exact field lengths; every formula is
  ANSI-SQL-expressible, which is what the DuckDB correctness gate checks.

Stats are global across segments; term stats for the query's terms are one
tiny pruned scan collected to the driver (the analogue of
``IndexSearcher``'s weight-time stats fetch, searcher.rs:690-767) and
memoized per searcher. All transcendentals (ln, the norm cache) are
computed driver-side in numpy and shipped as literals/closures, so executor
math is pure f32/f64 arithmetic.

A plan reads the postings table ONCE (``term IN (...)`` pushed to
Parquet, ``pos_bin`` read only when a phrase or span leaf needs it) and
decodes every term clause in a single Arrow stage — the scale-critical
property that per-term scans would lose at wide boolean queries.
``search_many`` runs every postings-only query of a batch as outputs of
one plan set, and every other query as an output of one rows evaluation.

``search_blockmax`` is the BMW (block-max WAND) serving path the north
rule adds on top of the reference (SURVEY.md §4.3), one per-segment
kernel (``_bmw_seg_topk``): per-128-doc-block upper bounds computed from
stored ``(max_tf, max_norm_byte, min_dl)`` metadata prune block decodes
against a θ lower bound obtained by exactly scoring the segment's
highest-impact term. Pruning is provably rank-preserving (any doc in a
pruned block has total score < θ ≤ the true k-th score), which
``tests/test_blockmax.py`` asserts against the exhaustive scorer. Like
every root kernel it masks tombstones in the worker, at any delete count.
"""

from __future__ import annotations

import os
from functools import partial, reduce

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import storage
from .bm25 import avgdl32, idf32, norm_cache32
from .build import load_manifest, read_seg_table, seg_table_paths
from .codec import (
    batch_delta_decode,
    batch_unpack,
    batch_unpack_positions,
    delta_decode,
    unpack_ints,
    varint_decode,
)
from .phrase import (
    exact_phrase_freq,
    sloppy_phrase_freq,
    sloppy_phrase_freq_2term_flat,
    sloppy_phrase_freq_nslot_flat,
)
from .query import (
    BooleanQuery,
    BoostingQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    ExistsQuery,
    FilterQuery,
    MatchAllDocsQuery,
    MinScoreQuery,
    MultiRangeQuery,
    PhraseQuery,
    Query,
    RangeQuery,
    SpanBoostQuery,
    SpanGapQuery,
    SpanNearQuery,
    TermQuery,
    span_spec,
    span_terms,
)
from .query import SpanQuery as _SpanQueryT
from .spans import ordered_near_freq_nclause_flat, span_freq

K1 = np.float32(1.2)
B = np.float32(0.75)
# first verify chunk (candidate docs) of the phrase/span leaf kernels; each
# later chunk is 4x larger, up to 64x, so worker memory stays bounded
_VERIFY_CHUNK = 4096


def _kp1_64(k1: float) -> float:
    """(k1 + 1) for the float64 "precise" path. The default returns the
    LITERAL 2.2 (not 1.2 + 1.0, which differs in the last f64 bit) so the
    SQL oracles' 2.2 constant stays bit-identical."""
    return 2.2 if k1 == 1.2 else k1 + 1.0


def _freq_scores(freq, nbs, dls, lucene, wk32, cache, coef64, k1_, b_,
                 avgdl64) -> np.ndarray:
    """BM25 of per-doc freqs as float64: the float32
    ``(wk*tf)/(tf+cache[norm])`` in "lucene" mode, else the f64
    ``coef*tf/(tf + k1*((1-b) + b*dl/avgdl))``, in the term scorer's IEEE
    op order. Used for the impact upper bound (freq = a count bound) and
    the verified score of the phrase/span leaf kernels, by explain, and
    through _term_scores by the plan's term leaves and the BMW kernel."""
    if lucene:
        tf = freq.astype(np.float32)
        return ((wk32 * tf) / (tf + cache[nbs])).astype(np.float64)
    tf = freq.astype(np.float64)
    return coef64 * tf / (
        tf + k1_ * ((1.0 - b_) + b_ * dls.astype(np.float64) / avgdl64))


def _decode_term_rows(pdf: "pd.DataFrame", lucene: bool):
    """FOR-decode a batch of term postings rows for the term kernels:
    per-row posting ``counts``, then per posting the doc ids, tfs and the
    scoring side column — norm bytes in "lucene" mode, doc lengths in
    "precise" mode (the ``aux`` argument of _term_scores)."""
    counts = pdf["num_docs"].to_numpy(np.int64)
    docs = batch_delta_decode(
        batch_unpack(pdf["docs_bin"].tolist(), counts), counts
    ).astype(np.int64)
    tfs = batch_unpack(pdf["tfs_bin"].tolist(), counts)
    aux = batch_unpack(pdf["norms_bin" if lucene else "dls_bin"].tolist(),
                       counts).astype(np.int64)
    return counts, docs, tfs, aux


def _term_scores(ci, tfs, aux, tw) -> np.ndarray:
    """Float64 BM25 of term postings scored against clause ``ci`` (one
    clause number, or one per posting) of the weight table ``tw``
    (IndexSearcher._term_weight_table) through _freq_scores. In "lucene"
    mode a clause's norm byte indexes its field's slice of the
    concatenated norm caches."""
    lucene, wk32, cache, cofs, coef64, k1_, b_, avg = tw
    if lucene:
        return _freq_scores(tfs, aux + cofs[ci], None, True, wk32[ci],
                            cache, None, None, None, None)
    return _freq_scores(tfs, None, aux, False, None, None, coef64[ci],
                        k1_[ci], b_[ci], avg[ci])


def _in_sorted(arr, x):
    """Index of each of ``x`` in the sorted unique array ``arr`` and
    whether it is there (the index is 0 where it is not)."""
    if len(arr) == 0 or len(x) == 0:
        return np.zeros(len(x), dtype=np.int64), np.zeros(len(x), dtype=bool)
    pos = np.minimum(np.searchsorted(arr, x), len(arr) - 1)
    ok = arr[pos] == x
    return np.where(ok, pos, 0), ok


def _dead_mask(tomb, docs) -> np.ndarray:
    """Which of ``docs`` are in the segment's sorted tombstone array."""
    if tomb is None:
        return np.zeros(len(docs), dtype=bool)
    return _in_sorted(tomb, docs)[1]


def _node_round(v, lucene: bool):
    """A node's float64 scores, rounded to float32 in "lucene" mode."""
    return v.astype(np.float32).astype(np.float64) if lucene else v


def _scores_at(d, v, cand):
    """Scores of ``cand`` in the leaf result ``(d, v)`` (0 where absent)
    and the presence mask."""
    p, ok = _in_sorted(d, cand)
    return np.where(ok, v[p] if len(v) else 0.0, 0.0), ok


def _union(results):
    """Sorted union of the doc arrays of ``(docs, scores)`` results."""
    return np.unique(np.concatenate(
        [d for d, _ in results] + [np.empty(0, dtype=np.int64)]))


def _eval_node(node, leaf, lucene: bool):
    """Evaluate one compiled plan node (IndexSearcher._compile) on one
    segment → ``(docs, scores)``: sorted unique doc ids and float64
    scores. ``leaf(node)`` evaluates the term, positional, none and rows
    leaves.

    Nodes combine with the oracle's arithmetic (oracle.OracleSearcher):
    a boolean sums its must scores, then its matched should scores, in
    clause order in float64, and adds the two sums; a dismax is
    ``mx + tie * (sum - mx)`` over its matching disjuncts in order; in
    "lucene" mode every node rounds its scores to float32, as each
    Scorer::score() of the reference returns f32."""
    kind = node[0]
    if kind == "bool":
        _, musts, shoulds, filters, nots, msm = node
        ms = [_eval_node(x, leaf, lucene) for x in musts]
        ss = [_eval_node(x, leaf, lucene) for x in shoulds]
        req = [d for d, _ in ms] + [_eval_node(x, leaf, lucene)[0]
                                    for x in filters]
        cand = (reduce(lambda a, b: np.intersect1d(a, b, assume_unique=True),
                       req) if req else _union(ss))
        for x in nots:
            cand = cand[~_in_sorted(_eval_node(x, leaf, lucene)[0], cand)[1]]
        total = np.zeros(len(cand))
        for d, v in ms:
            total += _scores_at(d, v, cand)[0]
        ssum = np.zeros(len(cand))
        n_s = np.zeros(len(cand), dtype=np.int64)
        for d, v in ss:
            val, ok = _scores_at(d, v, cand)
            ssum += val
            n_s += ok
        keep = n_s >= msm
        return cand[keep], _node_round((total + ssum)[keep], lucene)
    if kind == "dismax":
        _, subs, tie = node
        rs = [_eval_node(x, leaf, lucene) for x in subs]
        cand = _union(rs)
        mx = np.full(len(cand), -np.inf)
        sm = np.zeros(len(cand))
        for d, v in rs:
            val, ok = _scores_at(d, v, cand)
            sm += val
            mx = np.where(ok, np.maximum(mx, val), mx)
        return cand, _node_round(mx + tie * (sm - mx), lucene)
    if kind == "const":
        d, _ = _eval_node(node[1], leaf, lucene)
        return d, np.full(len(d), node[2])
    if kind == "min":
        d, v = _eval_node(node[1], leaf, lucene)
        keep = v > node[2]
        return d[keep], v[keep]
    if kind == "boosting":
        _, pos, neg, nb = node
        d, v = _eval_node(pos, leaf, lucene)
        hit = _in_sorted(_eval_node(neg, leaf, lucene)[0], d)[1]
        return d, np.where(hit, _node_round(v * nb, lucene), v)
    return leaf(node)


def _seg_outputs(outputs, leaf, tomb, k, lucene: bool):
    """``(output_id, docs, scores)`` of one segment for each
    ``(output_id, node)`` plan. With ``k`` (a root) tombstones are
    masked and each output keeps its top-k by (score desc, doc asc); a
    positional root runs its leaf kernel's impact-ordered top-k.
    With ``k=None`` every matching doc is returned."""
    for oid, node in outputs:
        if k is not None and node[0] == "positional":
            d, v = leaf(node, tomb, k)
        else:
            d, v = _eval_node(node, leaf, lucene)
            if k is not None:
                live = ~_dead_mask(tomb, d)
                top = np.lexsort((d[live], -v[live]))[:k]
                d, v = d[live][top], v[live][top]
        if len(d):
            yield oid, d, v


class _SegPostings:
    """One segment's scan rows as the plan leaves' input, decoded on
    first use: the rows of every term-leaf key in one FOR decode
    (_decode_term_rows), grouped by key and doc-sorted; the rows of
    every positional key into the per-term dicts of _positional_topk
    (_decode_seg_tds). Calling it evaluates one leaf node; with ``k`` a
    positional leaf masks ``tomb`` and keeps its top-k."""

    def __init__(self, sub, kid_of, pos_keys, tw, chunk0):
        self.sub = sub
        self.keys = list(zip(sub["field"].tolist(), sub["term"].tolist()))
        self.kid_of, self.pos_keys = kid_of, pos_keys
        self.tw, self.chunk0 = tw, chunk0
        self._terms = None
        self._tds = None

    def _term_postings(self):
        if self._terms is None:
            row_kid = np.fromiter((self.kid_of.get(key, -1)
                                   for key in self.keys),
                                  dtype=np.int64, count=len(self.keys))
            m = row_kid >= 0
            counts, docs, tfs, aux = _decode_term_rows(self.sub[m],
                                                       self.tw[0])
            pk = np.repeat(row_kid[m], counts)
            o = np.lexsort((docs, pk))
            self._terms = (docs[o], tfs[o], aux[o], np.searchsorted(
                pk[o], np.arange(len(self.kid_of) + 1)))
        return self._terms

    def __call__(self, node, tomb=None, k=None):
        kind = node[0]
        if kind == "term":
            _, kid, ci = node
            docs, tfs, aux, bounds = self._term_postings()
            lo, hi = bounds[kid], bounds[kid + 1]
            return docs[lo:hi], _term_scores(ci, tfs[lo:hi], aux[lo:hi],
                                             self.tw)
        if kind == "none":
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        if self._tds is None:
            m = np.fromiter((key in self.pos_keys for key in self.keys),
                            dtype=bool, count=len(self.keys))
            self._tds = _decode_seg_tds(self.sub[m])
        _, keys, group_tis, bm, bound, freqs = node
        tds = {ti: self._tds[key] for ti, key in enumerate(keys)
               if key in self._tds}
        d, v = _positional_topk(tds, group_tis, tomb, k, self.chunk0, bm,
                                bound, freqs)
        o = np.argsort(d)
        return d[o], v[o]


class _LazyPositions:
    """Per-term lazily-decoded position store for the phrase/span kernels.

    The impact-ordered verify loop touches pos_bin blocks in
    ub-descending doc chunks; decoding one 128-entry block per
    ``batch_unpack_positions`` call costs a Python-level decode per
    block (~40µs), which dominates the adversarial stopword case where
    nearly every block survives (measured 58 of 65ms per segment visit).
    Here every block a chunk newly touches is decoded in ONE batched
    codec call into a preallocated per-term flat array (position count =
    Σtf, a few hundred KB per stopword term at 34k docs/seg), and the
    per-entry gather is a single vectorized fancy-index — no per-block
    Python loop. Blocks no surviving chunk lands in are still never
    varint-decoded (the θ-cutoff win is preserved)."""

    __slots__ = ("td", "eoff", "pstart", "pend", "have", "flat")

    def __init__(self, td: dict):
        self.td = td
        tfs = td["tfs"]
        self.eoff = np.cumsum(tfs) - tfs          # entry → flat start
        blk_ends = td["blk_ends"]
        self.pend = self.eoff[blk_ends - 1] + tfs[blk_ends - 1]
        self.pstart = self.eoff[blk_ends - td["counts"]]
        self.have = np.zeros(len(blk_ends), dtype=bool)
        self.flat = None                           # allocated on demand

    def gather(self, ent_chunk: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """flat positions + per-entry tf for ASCENDING entries."""
        td = self.td
        tfe = td["tfs"][ent_chunk]
        tot = int(tfe.sum())
        if tot == 0:
            return np.empty(0, dtype=np.int64), tfe
        bi = np.unique(np.searchsorted(td["blk_ends"], ent_chunk,
                                       side="right"))
        new = bi[~self.have[bi]]
        if new.size:
            if self.flat is None:
                self.flat = np.empty(int(td["tfs"].sum()), dtype=np.int64)
            blk_starts = td["blk_ends"] - td["counts"]
            tf_parts = [td["tfs"][blk_starts[b]:td["blk_ends"][b]]
                        for b in new]
            dec, _ = batch_unpack_positions(
                [td["pos_bins"][b] for b in new],
                np.concatenate(tf_parts))
            off = 0
            for b in new:
                ps, pe = int(self.pstart[b]), int(self.pend[b])
                self.flat[ps:pe] = dec[off:off + (pe - ps)]
                off += pe - ps
            self.have[new] = True
        idx = (np.repeat(self.eoff[ent_chunk], tfe) + np.arange(tot)
               - np.repeat(np.cumsum(tfe) - tfe, tfe))
        return self.flat[idx], tfe


def _positional_topk(tds, group_tis, tomb, k, chunk0, bm, bound, freqs):
    """Segment-local top-k of a phrase or span leaf with impact-ordered
    verification; with ``k=None`` every candidate is verified and every
    hit returned. The reference's two-phase iteration
    (search/mod.rs:127-155): a doc-level conjunction, then positions
    verified on its candidates only.

    ``tds[ti]`` holds term ``ti``'s postings for THIS segment
    (_decode_seg_tds): sorted ``docs``, aligned ``tfs``/``nbs``/``dls``,
    per-block entry ``counts`` and the still-encoded ``pos_bins``.
    Candidates are the live docs holding ≥1 term of every group of
    ``group_tis`` (a phrase has one group per term, so a missing term
    empties it). ``bound(tf)`` maps each term's tf per candidate (0
    where absent) to an upper bound on the doc's freq; BM25
    (_freq_scores with the leaf's constants ``bm``) is monotone in freq,
    so ``ub = score(bound)`` bounds the doc's score. Docs are verified
    in ub-descending chunks by ``freqs(tf, pos)``, where ``pos(ti)`` is
    the chunk's positions of term ``ti`` concatenated in doc order; once
    k docs are verified with true score θ, every remaining doc has
    ``ub < θ`` and is skipped, and pos_bin blocks no verified chunk
    lands in are never decoded (the reference has no phrase or span
    impacts, so rank identity with the exhaustive ``k=None`` run is
    test-asserted: tests/test_phrase_collector.py, tests/test_spans.py).
    The first chunk holds ``chunk0`` docs (at least 4·k); each later one
    4× more, up to 64×, so worker memory stays bounded."""
    e = np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    conj = None
    for g in group_tis:
        parts = [tds[ti]["docs"] for ti in g if ti in tds]
        docs = (parts[0] if len(parts) == 1
                else np.unique(np.concatenate(parts + [e[0]])))
        conj = docs if conj is None else np.intersect1d(
            conj, docs, assume_unique=True)
        if conj.size == 0:
            return e
    conj = conj[~_dead_mask(tomb, conj)]
    n = len(conj)
    if n == 0:
        return e
    tfm = {ti: np.zeros(n, dtype=np.int64) for g in group_tis for ti in g}
    nbs, dls = np.zeros(n, dtype=np.int64), np.zeros(n, dtype=np.int64)
    ent, stores = {}, {}
    for ti in tfm:
        if ti in tds:
            td = tds[ti]
            p, ok = _in_sorted(td["docs"], conj)
            ent[ti], stores[ti] = p, _LazyPositions(td)
            tfm[ti][ok] = td["tfs"][p[ok]]
            nbs[ok], dls[ok] = td["nbs"][p[ok]], td["dls"][p[ok]]
    ub64 = _freq_scores(bound(tfm), nbs, dls, *bm)
    order = np.lexsort((conj, -ub64))

    vd_parts, vs_parts = [], []
    n_hits, theta, i = 0, None, 0
    chunk = max(int(chunk0), 4 * (k or 0), 1)
    chunk_max = 64 * chunk
    while i < n and (theta is None or ub64[order[i]] >= theta):
        cidx = np.sort(order[i:i + chunk])  # doc order: conj is sorted
        tf = {ti: a[cidx] for ti, a in tfm.items()}
        gathered = {}

        def pos(ti):
            if ti not in gathered:
                gathered[ti] = (
                    stores[ti].gather(ent[ti][cidx][tf[ti] > 0])[0]
                    if ti in stores else np.empty(0, dtype=np.int64))
            return gathered[ti]

        freq = freqs(tf, pos)
        hit = freq > 0
        if hit.any():
            vd_parts.append(conj[cidx][hit])
            vs_parts.append(_freq_scores(freq[hit], nbs[cidx][hit],
                                         dls[cidx][hit], *bm))
            n_hits += int(hit.sum())
            if k is not None and n_hits >= k:
                allsc = np.concatenate(vs_parts)
                theta = float(
                    np.partition(allsc, len(allsc) - k)[len(allsc) - k])
        i += len(cidx)
        chunk = min(4 * chunk, chunk_max)
    if not vd_parts:
        return e
    dv = np.concatenate(vd_parts)
    sv = np.concatenate(vs_parts)
    o = np.lexsort((dv, -sv))[:k]
    return dv[o], sv[o]


def _per_doc(flat, tf):
    """A chunk's flat positions of one term as one list per candidate
    (empty where the term is absent), for the per-doc walks."""
    flat, ends = flat.tolist(), np.cumsum(tf).tolist()
    return [flat[e - t:e] for e, t in zip(ends, tf.tolist())]


def _phrase_bound(slots, slop, tf):
    """Upper bound on each candidate's phrase freq (_positional_topk).
    Exact: the minimum slot tf, since every occurrence consumes one
    position of every slot (phrase_scorer.rs:179-229). Sloppy:
    Σ_slots tf − n_slots + 1, since every _SloppyFreq loop iteration
    consumes one next_position() of some slot and emits ≤1 match (+1
    final emit), each adding ≤1 to freq (1/(1+len), len ≥ 0)."""
    if slop == 0:
        return reduce(np.minimum, [tf[ti] for ti, _ in slots])
    return sum(tf[ti] for ti, _ in slots) - len(slots) + 1


def _phrase_freqs(slots, slop, terms, tf, pos):
    """Phrase freq of each chunk candidate (every one holds every slot's
    term; _positional_topk). ``slots`` are ``(ti, offset)`` pairs.

    Exact: one slot (a 2-term phrase fully served by the bigram pair
    channel, or a 1-term phrase) has the stored tf as its freq, so no
    pos_bin block is decoded; otherwise each slot's positions become
    ``(rank << bits) + (pos - offset + pad)`` keys and the per-doc
    intersection of the shifted position sets is one ``np.intersect1d``
    chain, freq a count per doc rank. Sloppy: the shared phrase kernels,
    batch-vectorized for distinct terms, a per-doc walk for repeated
    terms (behind the verify cap, IndexSearcher._check_verify_cap)."""
    offsets = [off for _, off in slots]
    n = len(tf[slots[0][0]])
    if slop == 0 and len(slots) == 1:
        return tf[slots[0][0]].astype(np.float64)
    if slop == 0:
        offpad = max(offsets)
        maxpos = max(int(pos(ti).max(initial=0)) for ti, _ in slots)
        # key on the doc's RANK within the chunk (not the global doc id)
        # so rank << bits can never overflow int64
        bits = np.int64(int(maxpos + offpad + 2).bit_length())
        acc = None
        for ti, off in slots:
            keys = (np.repeat(np.arange(n), tf[ti]) << bits) + (
                pos(ti) - off + offpad)
            acc = keys if acc is None else np.intersect1d(
                acc, keys, assume_unique=True)
            if acc.size == 0:
                break
        freq = np.zeros(n, dtype=np.float64)
        hr, hc = np.unique(acc >> bits, return_counts=True)
        freq[hr] = hc
        return freq
    if len({ti for ti, _ in slots}) < len(slots):
        docs = [_per_doc(pos(ti), tf[ti]) for ti, _ in slots]
        return np.array([float(sloppy_phrase_freq(
            [d[r] for d in docs], offsets, terms, slop)) for r in range(n)],
            dtype=np.float64)
    if len(slots) == 2:
        (ta, oa), (tb, ob) = slots
        freq = sloppy_phrase_freq_2term_flat(pos(ta), tf[ta], pos(tb),
                                             tf[tb], oa, ob, slop)
    else:
        freq = sloppy_phrase_freq_nslot_flat(
            [pos(ti) for ti, _ in slots], [tf[ti] for ti, _ in slots],
            offsets, slop)
    return freq.astype(np.float64)


def _span_vectorized(spec) -> bool:
    """Whether a span spec is an ordered near over term/gap clauses led
    by a term — the shape spans.ordered_near_freq_nclause_flat verifies
    across a whole chunk; any other tree walks per doc."""
    return (spec[0] == "near" and bool(spec[3])
            and spec[1][0][0] == "term"
            and all(s[0] in ("term", "gap") for s in spec[1]))


def _span_count_bound(spec, tfm: dict):
    """Per-doc upper bound on the NUMBER of spans a spec can emit, as a
    numpy array over candidate docs (``tfm[ti]`` = the term's tf per
    doc, 0 where absent). freq = Σ 1/(1+width) ≤ span count, and the
    BM25 kernel is monotone in freq, so score(bound) is a true impact
    bound. Counts per node (spans.py kernels): a term emits tf spans;
    an or emits the union (Σ subs); an ordered near advances its FIRST
    clause's pointer every iteration, so it emits ≤ that clause's count
    (a gap is never first — ordered_near_spans raises); an unordered
    near pops one heap cell per emission, so ≤ Σ sub counts."""
    kind = spec[0]
    if kind == "term":
        return tfm[spec[1]]
    if kind == "or":
        return sum(_span_count_bound(s, tfm) for s in spec[1])
    if kind == "near":
        if spec[3]:
            return _span_count_bound(spec[1][0], tfm)
        return sum(_span_count_bound(s, tfm) for s in spec[1]
                   if s[0] != "gap")
    raise ValueError(f"unbounded span spec node: {spec!r}")


def _span_freqs(spec, tf, pos):
    """Span freq (f32 Σ 1/(1+width) over the emitted spans) of each
    chunk candidate (_positional_topk): ordered nears over term/gap
    clauses through the lockstep n-clause kernel (a repeated term
    included), every other tree per doc through spans.span_freq (behind
    the verify cap, IndexSearcher._check_verify_cap)."""
    if _span_vectorized(spec):
        return ordered_near_freq_nclause_flat(
            [s if s[0] == "gap" else ("pos", pos(s[1]), tf[s[1]])
             for s in spec[1]], spec[2]).astype(np.float64)
    docs = {ti: _per_doc(pos(ti), t) for ti, t in tf.items()}
    n = len(next(iter(tf.values())))
    return np.array([float(span_freq(spec, {ti: d[r] for ti, d in
                                            docs.items()}))
                     for r in range(n)], dtype=np.float64)


def _bmw_seg_topk(sub, tomb, k, ti_of, tw, cache64, k1_, b_, avgdl64):
    """Segment-local block-max WAND top-k of a should-sum disjunction —
    the θ/MaxScore-split/block-prune pipeline of search_blockmax run on
    ONE segment's term postings rows ``sub`` (with their
    ``(max_tf, max_norm_byte, min_dl, first_doc, last_doc)`` block
    metadata); ``ti_of`` maps a term to its clause in the weight table
    ``tw`` (IndexSearcher._term_weight_table).

    1. θ_s: decode only the segment's strongest term (max block-ub
       upper bound), score it exactly, mask tombstones, take the k-th
       score. ≥k live docs have total ≥ θ_s (driver score is a lower
       bound of the total — BM25 contributions are non-negative), so
       θ_s lower-bounds the segment's true k-th total and pruning
       against it keeps the segment top-k intact; the global top-k is a
       subset of the per-segment top-k union.
    2. MaxScore split (Turtle & Flood) on SEGMENT-LOCAL term bounds (max
       of the term's block ubs in this segment): non-essential terms =
       the maximal ascending-ub prefix with Σ ub < θ_s.
    3. Essential terms: decode only blocks with
       ``block_ub + Σ_{t'≠t} tub(t') ≥ thr`` — pure arithmetic over the
       block metadata columns; pruned blocks are never decoded.
    4. Candidates: essential partial + Σ ub(nonessential) ≥ thr.
    5. Non-essential terms: decode only blocks whose
       [first_doc, last_doc] holds a candidate (searchsorted), add
       contributions for candidate docs only.

    θ_s = 0 (fewer than k driver postings) makes thr negative and every
    test above vacuous — the pass degrades to exhaustive scoring.
    Scores: each posting through _term_scores, per-doc sum in float64,
    cast to the score type — rank- and score-identical to the exhaustive
    disjunction (tests/test_blockmax.py)."""
    lucene, coef = tw[0], tw[4]
    wk64 = tw[1].astype(np.float64)
    ftype = np.float32 if lucene else np.float64

    def _decode(g: pd.DataFrame):
        """(docs, scores) of a row subset."""
        counts, docs, tfs, aux = _decode_term_rows(g, lucene)
        ti_el = np.repeat(
            np.fromiter((ti_of[t] for t in g["term"]),
                        dtype=np.int64, count=len(g)), counts)
        return docs, _term_scores(ti_el, tfs, aux, tw)

    ti_row = np.fromiter((ti_of[t] for t in sub["term"]),
                         dtype=np.int64, count=len(sub))
    mtf = sub["max_tf"].to_numpy(np.float64)
    if lucene:
        mnb = sub["max_norm_byte"].to_numpy(np.int64)
        bub = wk64[ti_row] * mtf / (mtf + cache64[mnb])
    else:
        mdl = sub["min_dl"].to_numpy(np.float64)
        bub = coef[ti_row] * mtf / (
            mtf + k1_ * ((1.0 - b_) + b_ * mdl / avgdl64))
    tub = np.zeros(len(ti_of), dtype=np.float64)
    np.maximum.at(tub, ti_row, bub)
    present = np.unique(ti_row)
    # 1) θ_s from the segment's strongest term
    drv = int(present[np.lexsort((present, -tub[present]))[0]])
    drv_rows = ti_row == drv
    d_docs, d_sc = _decode(sub[drv_rows])
    live = ~_dead_mask(tomb, d_docs)
    live_sc = np.sort(d_sc[live].astype(ftype))
    theta = float(live_sc[-k]) if len(live_sc) >= k else 0.0
    thr = theta * (1.0 - _UB_SLACK) - 1e-9
    # 2) MaxScore split on segment-local bounds
    order = present[np.lexsort((present, tub[present]))]
    ness, acc = [], 0.0
    for ti in order[:-1]:  # strongest term stays essential
        if theta > 0 and acc + tub[ti] < thr:
            ness.append(int(ti))
            acc += tub[ti]
        else:
            break
    ub_n = float(sum(tub[ti] for ti in ness))
    total_ub = float(tub[present].sum())
    # 3) essential blocks surviving the metadata bound
    ess_rows = (~drv_rows & ~np.isin(ti_row, ness)
                & (bub + (total_ub - tub[ti_row]) >= thr))
    docs_parts, sc_parts = [d_docs], [d_sc]
    if ess_rows.any():
        e_docs, e_sc = _decode(sub[ess_rows])
        docs_parts.append(e_docs)
        sc_parts.append(e_sc)
    docs_c = np.concatenate(docs_parts)
    sc_c = np.concatenate(sc_parts)
    o = np.argsort(docs_c, kind="stable")
    docs_c, sc_c = docs_c[o], sc_c[o]
    nb = np.empty(len(docs_c), dtype=bool)
    nb[0] = True
    nb[1:] = docs_c[1:] != docs_c[:-1]
    starts = np.flatnonzero(nb)
    docs_u = docs_c[starts]
    sums = np.add.reduceat(sc_c, starts)
    # 4) candidates; 5) non-essential contributions
    if ness:
        cand = sums + ub_n >= thr
        docs_u, sums = docs_u[cand], sums[cand]
        n_rows = np.isin(ti_row, ness)
        if n_rows.any() and len(docs_u):
            fd = sub["first_doc"].to_numpy(np.int64)[n_rows]
            ld = sub["last_doc"].to_numpy(np.int64)[n_rows]
            p = np.searchsorted(docs_u, fd)
            hit = (p < len(docs_u)) & (
                docs_u[np.minimum(p, len(docs_u) - 1)] <= ld)
            keep_idx = np.flatnonzero(n_rows)[hit]
            if len(keep_idx):
                n_docs, n_sc = _decode(sub.iloc[keep_idx])
                pn = np.searchsorted(docs_u, n_docs)
                m = (pn < len(docs_u)) & (
                    docs_u[np.minimum(pn, len(docs_u) - 1)] == n_docs)
                np.add.at(sums, pn[m], n_sc[m])
    liveu = ~_dead_mask(tomb, docs_u)
    docs_u, sums = docs_u[liveu], sums[liveu]
    score = sums.astype(ftype)
    top = np.lexsort((docs_u, -score))[:k]
    return docs_u[top], score[top]


def _iter_seg_chunks(batches):
    """Stream a partition's Arrow batches as one pandas frame per
    SEGMENT, without ever buffering the whole partition.

    A scan partition is a sequence of whole segment files (the searcher
    forbids file splits; _coalesced only unions whole partitions), each
    read in file order, and a rows-leaf partition is sorted by seg — so
    a segment's rows form one contiguous run in the batch stream.
    Buffering only until the seg value changes bounds worker memory at
    one segment's rows + one Arrow batch, independent of how many
    segments the task holds (a stopword-phrase scan over a many-segment
    partition would otherwise hold every packed segment's positions at
    once)."""
    buf: list = []
    cur = None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        segs = pdf["seg"].to_numpy(np.int32)
        bounds = np.flatnonzero(segs[1:] != segs[:-1]) + 1
        start = 0
        for c in list(bounds) + [len(pdf)]:
            s = int(segs[start])
            if cur is not None and s != cur:
                yield cur, (buf[0] if len(buf) == 1
                            else pd.concat(buf, ignore_index=True))
                buf = []
            cur = s
            buf.append(pdf.iloc[start:c])
            start = c
    if buf:
        yield cur, (buf[0] if len(buf) == 1
                    else pd.concat(buf, ignore_index=True))


def _count_rows(batches):
    """warmup()'s scan task. Module-level so cloudpickle ships it by
    reference: the worker imports this module (and its numpy / codec
    imports) during warmup instead of on the first query."""
    yield pd.DataFrame({"n": [sum(len(b) for b in batches)]})


def _decode_seg_tds(sub: "pd.DataFrame") -> dict:
    """One segment's positional postings rows → per-(field, term) decode
    dict for the phrase/span kernels: sorted docs, aligned
    tfs/nbs/dls, per-block counts/ends and the still-encoded pos_bin
    blobs (decoded lazily by the kernels' block gathers)."""
    tds = {}
    for key, grp in sub.groupby(["field", "term"], sort=False):
        grp = grp.sort_values("block_id")
        counts = grp["num_docs"].to_numpy(np.int64)
        tds[key] = {
            "docs": batch_delta_decode(
                batch_unpack(grp["docs_bin"].tolist(), counts), counts
            ).astype(np.int64),
            "tfs": batch_unpack(grp["tfs_bin"].tolist(),
                                counts).astype(np.int64),
            "nbs": batch_unpack(grp["norms_bin"].tolist(),
                                counts).astype(np.int64),
            "dls": batch_unpack(grp["dls_bin"].tolist(),
                                counts).astype(np.int64),
            "counts": counts,
            "blk_ends": np.cumsum(counts),
            "pos_bins": grp["pos_bin"].tolist(),
        }
    return tds


def _children(q: Query) -> list:
    """The sub-queries of a query node ([] for a leaf)."""
    if isinstance(q, BooleanQuery):
        return q.musts + q.shoulds + q.filters + q.must_nots
    if isinstance(q, (BoostQuery, ConstantScoreQuery, FilterQuery,
                      MinScoreQuery)):
        return [q.query]
    if isinstance(q, DisjunctionMaxQuery):
        return q.disjuncts
    if isinstance(q, BoostingQuery):
        return [q.positive, q.negative]
    return []


def _holds_min_score(q: Query) -> bool:
    """Whether a ``MinScoreQuery`` is anywhere in the tree ``q``."""
    return isinstance(q, MinScoreQuery) or any(
        _holds_min_score(s) for s in _children(q))


def _postings_only(q: Query) -> bool:
    """Whether every leaf of ``q`` is a term, phrase or span query under
    boolean, dismax, boost, constant-score, min-score and boosting nodes
    — the trees IndexSearcher._postings_frame evaluates in one scan."""
    if isinstance(q, (TermQuery, PhraseQuery, _SpanQueryT)):
        return True
    if isinstance(q, (BooleanQuery, BoostQuery, ConstantScoreQuery,
                      MinScoreQuery, DisjunctionMaxQuery, BoostingQuery)):
        return all(_postings_only(s) for s in _children(q))
    return False


class _Plan:
    """What compiling postings-only query trees (IndexSearcher._compile)
    collects for their one scan: the term-leaf clauses ``(field, term,
    boost)``, the number of each term-leaf (field, term) key, the keys
    of the phrase/span leaves, and every key the scan reads (insertion
    ordered, so a plan's scan filter is deterministic)."""

    def __init__(self, stats: dict | None = None):
        self.stats = stats
        self.clauses: list[tuple] = []
        self.kid_of: dict[tuple[str, str], int] = {}
        self.pos_keys: set = set()
        self.scan_keys: dict = {}

    def add_positional(self, keys) -> None:
        self.pos_keys.update(keys)
        for key in keys:
            self.scan_keys.setdefault(key)


def _no_match(description: str, details=()) -> dict:
    """A non-matching Explanation node."""
    return {"match": False, "value": 0.0, "description": description,
            "details": list(details)}


# postings columns of the plan evaluator's scan; the positional ones are
# read only when a phrase or span leaf is in the plan
_TERM_SCAN_COLS = ("field", "term", "seg", "num_docs", "docs_bin",
                   "tfs_bin", "norms_bin", "dls_bin")
_POS_SCAN_COLS = ("block_id", "pos_bin")
# postings columns of the BMW collector
_BMW_SCAN_COLS = ("term", "seg", "num_docs", "docs_bin", "tfs_bin",
                  "norms_bin", "dls_bin", "max_tf", "max_norm_byte",
                  "min_dl", "first_doc", "last_doc")
_UB_SLACK = 1e-5  # relative slack on the BMW θ filter (f32 vs f64 rounding)


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str,
                 scoring: str = "lucene",
                 similarity: dict[str, tuple[float, float]] | None = None,
                 verify_candidate_cap: int = 2_000_000,
                 query_cache=None, caching_policy=None):
        """``similarity`` maps field → (k1, b) — the SimilarityProducer
        extension point (searcher.rs:148-154: a different Similarity per
        field); unlisted fields use the BM25 defaults (1.2, 0.75).

        ``query_cache`` (a :class:`rucene_spark.cache.LRUQueryCache`)
        caches filter-context match sets as persisted (seg, doc) frames;
        ``caching_policy`` defaults to
        :class:`~rucene_spark.cache.UsageTrackingQueryCachingPolicy`
        when a cache is given. Default is NO cache — the reference ships
        with its query cache disabled too (searcher.rs:696-701 builds a
        NoCacheQueryCache). One cache instance may be shared across
        searchers/generations; entries are generation-keyed.

        ``verify_candidate_cap`` bounds the PER-DOC Python verify paths
        (sloppy phrases with repeated terms, and span trees other than
        ordered nears over term/gap clauses — the kernels that cannot be
        vectorized across docs). When the metadata upper bound on
        candidate docs (min required-term df) exceeds the cap, the query
        is rejected with guidance instead of silently running a
        corpus-sized Python loop — the sloppy/span analogue of
        block-max's degenerate-path degrade. Distinct-term sloppy
        phrases and ordered span nears over term/gap clauses are exempt:
        their walks are batch-vectorized over flat position arrays
        (phrase.sloppy_phrase_freq_2term_flat / _nslot_flat,
        spans.ordered_near_freq_nclause_flat). Raise the cap explicitly
        for deliberate heavy queries.

        Every postings file must hold whole docs — one file per segment,
        or the doc-range-disjoint files of a ``doc_sharded`` merge —
        because the per-segment kernels reduce inside one scan partition.
        Any other multi-file segment raises ``ValueError``; run
        ``merge.force_merge`` to rewrite it."""
        self.spark = spark
        self.index_dir = index_dir
        self.scoring = scoring
        self.verify_candidate_cap = int(verify_candidate_cap)
        self.similarity = dict(similarity or {})
        m = load_manifest(index_dir)
        self.manifest = m
        for seg, path in zip(m["segments"],
                             seg_table_paths(index_dir, m, "postings")):
            n_files = sum(f.endswith(".parquet")
                          for f in storage.listdir(path))
            if n_files > 1 and not seg.get("doc_sharded"):
                raise ValueError(
                    f"segment {seg['segment_id']} holds"
                    f" {n_files} postings files that are not doc-sharded;"
                    " the per-segment kernels need each file to hold whole"
                    " docs. Run rucene_spark.merge.force_merge on"
                    f" {index_dir!r} to rewrite it.")
        self.key_col = m["key_col"]
        self.doc_count = m["doc_count"]
        # Scan partitions must equal SEGMENT FILES, for two reasons:
        # (a) parallelism — at the default 128 MiB maxPartitionBytes,
        # parquet bin-packing glues ~64 ten-MiB segment files into ~5 scan
        # tasks, and since the Arrow decode is fused into the scan stage,
        # every core beyond 5 idles (measured: local[32] no faster than
        # local[8] on a 1000-query batch); (b) correctness of the
        # per-segment plans (_postings_frame) and the BMW kernel, whose
        # segment-local boolean arithmetic and per-segment top-k require
        # each partition to hold a segment's postings COMPLETELY.  Setting
        # openCostInBytes = maxPartitionBytes disables packing (one file
        # per partition) and raising maxPartitionBytes above the largest
        # segment file disables splitting.  At cluster scale parallelism
        # comes from segment COUNT (a merge policy keeps per-segment files
        # bounded), exactly like Lucene shards.
        max_seg_bytes = max(
            (int(s.get("bytes", 0)) for s in m["segments"]), default=0)
        part_bytes = max(128 << 20, max_seg_bytes + (1 << 20))
        try:  # never LOWER a bound another searcher on this session set
            cur = int(spark.conf.get("spark.sql.files.maxPartitionBytes"))
        except (ValueError, TypeError):
            cur = 0
        part_bytes = max(part_bytes, cur)
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(part_bytes))
        spark.conf.set("spark.sql.files.openCostInBytes", str(part_bytes))
        self.sum_ttf = m["sum_ttf"]
        # per-field collection stats (field.rs:23-29 multi-field model):
        # each field has its own sum_ttf → avgdl → norm cache; doc_count is
        # the global corpus size (our documented global-stats divergence)
        self.fields: list[str] = m.get("fields") or [m["field"]]
        self.default_field: str = m["field"]
        # per-field posting level; pre-option manifests are full-positions
        self.field_options: dict[str, str] = (
            m.get("field_index_options") or
            {f_: "positions" for f_ in self.fields})
        fstats = m.get("field_stats") or {m["field"]: {"sum_ttf": m["sum_ttf"]}}
        self.avgdl_f: dict[str, np.float32] = {}
        self.cache_f: dict[str, np.ndarray] = {}
        self.avgdl64_f: dict[str, float] = {}
        self.sim_f: dict[str, tuple[float, float]] = {}
        for f_ in self.fields:
            k1, b = self.similarity.get(f_, (1.2, 0.75))
            self.sim_f[f_] = (float(k1), float(b))
            sttf = int(fstats.get(f_, {}).get("sum_ttf", 0))
            self.avgdl_f[f_] = avgdl32(sttf, self.doc_count)
            self.cache_f[f_] = norm_cache32(self.avgdl_f[f_], k1=k1, b=b)
            self.avgdl64_f[f_] = (sttf / self.doc_count) if sttf > 0 else 1.0
        self.avgdl = self.avgdl_f[self.default_field]
        self.cache = self.cache_f[self.default_field]
        self.avgdl64 = self.avgdl64_f[self.default_field]
        # reads go through the manifest's dir list (the commit point), not
        # directory discovery — a crashed merge's staged dirs are invisible
        self._postings = read_seg_table(spark, index_dir, m, "postings")
        self._docmeta = read_seg_table(spark, index_dir, m, "docmeta")
        # doc-values update overlay (.dvu-generation analogue): project
        # coalesce(latest overlay value, stored value) over docmeta —
        # postings/norms/stats untouched, like the reference's DV updates
        # .dvu overlay projection, gen-scoped (see merge.apply_dv_overlay:
        # an update applies only to segments with seg.gen <= update.gen,
        # so delete-then-readd never inherits a stale overlay value)
        from .merge import apply_dv_overlay
        self._docmeta = apply_dv_overlay(
            spark, index_dir, self._docmeta, self.key_col, m["segments"])
        self._term_stats = spark.read.parquet(
            os.path.join(index_dir, m.get("term_stats_dir", "term_stats")))
        # live docs: tombstones resolved to (seg, doc) once
        # (merge.resolve_tombstones, at most one row per doc), masked in
        # the worker by every root's per-segment kernel (_tomb_by_seg)
        # and anti-joined onto the k=None frames (_live) — the
        # live_docs.rs analogue; stats stay stale until merge squeezes
        # deletes out, exactly like Lucene.
        self._deleted = None
        tomb_dir = os.path.join(index_dir, "tombstones")
        if storage.is_dir(tomb_dir) and any(
                f.endswith(".parquet") for f in storage.listdir(tomb_dir)):
            from .merge import resolve_tombstones
            self._deleted = resolve_tombstones(
                spark.read.parquet(tomb_dir), self._docmeta, self.key_col,
                m["segments"])
        self._score_t = "float" if scoring == "lucene" else "double"
        self._score_schema = f"seg int, doc long, score {self._score_t}"
        self._stats_cache: dict[tuple[str, str], dict | None] = {}
        self._plan_cache: dict[tuple[str, int], DataFrame] = {}
        self._tomb_cache: dict[int, np.ndarray] | None = None
        # hot-pair bigram channel (build.py _invert_pairs): frozen hot
        # vocabulary, loaded lazily from the sidecar on first exact-phrase
        # search (driver collect bounded by the hot-vocab size)
        self._bigram_cfg = m.get("bigrams")
        self._bigram_vocab: dict[str, frozenset] | None = None
        # filter-set query cache (cache.py). Generation key = manifest
        # content hash (the commit point, like SearcherManager's token)
        # PLUS the dv-overlay file set: DV updates change RangeQuery /
        # ExistsQuery membership via the docmeta overlay projection
        # WITHOUT publishing a new manifest, so a manifest-only key
        # would let a post-update searcher hit a stale cached set.
        # Tombstones need no key bits: cached frames are pre-`_live`,
        # every searcher anti-joins its own deletes on top.
        self._query_cache = query_cache
        self._caching_policy = None
        if query_cache is not None:
            if caching_policy is None:
                from .cache import UsageTrackingQueryCachingPolicy
                caching_policy = UsageTrackingQueryCachingPolicy()
            self._caching_policy = caching_policy
            import hashlib
            from .build import MANIFEST
            from .merge import DV_UPDATES
            src = storage.read_text(os.path.join(index_dir, MANIFEST))
            dvu = os.path.join(index_dir, DV_UPDATES)
            if storage.is_dir(dvu):
                src += "|" + ",".join(sorted(
                    f for f in storage.listdir(dvu) if f.endswith(".parquet")))
            self._gen_key = hashlib.sha256(src.encode()).hexdigest()

    def _coalesced(self, scan: DataFrame) -> DataFrame:
        """Pack multiple segment files into one scan task when segments
        far outnumber cores. The per-segment plans reduce per SEGMENT
        inside the worker (each segment's rows stream through
        _iter_seg_chunks), so their only layout invariant is that a
        segment's rows stay wholly inside one partition — coalesce()
        unions WHOLE input partitions with no shuffle and no file
        splits, preserving it. Without this, a
        229-segment index pays 229 task setups per query (~8 waves on
        32 cores) even though the term-pruned data per task is tiny —
        the 10M-doc profile showed every query family converging to
        this per-segment fixed cost (BENCH_10M.json). 2× parallelism
        keeps all cores busy under skewed segment sizes."""
        n_segs = len(self.manifest["segments"])
        target = 2 * self.spark.sparkContext.defaultParallelism
        if n_segs > target:
            return scan.coalesce(target)
        return scan

    def _bigram_hot(self, field: str):
        """Frozen hot vocabulary of the field's bigram channel, or None
        when the index has no channel."""
        if self._bigram_cfg is None:
            return None
        if self._bigram_vocab is None:
            from .build import load_bigram_vocab
            self._bigram_vocab = load_bigram_vocab(
                self.index_dir, {"bigrams": self._bigram_cfg}) or {}
        return self._bigram_vocab.get(field)

    def _tomb_by_seg(self) -> dict[int, np.ndarray]:
        """Resolved tombstones as per-segment sorted doc-id arrays, for the
        kernels' in-worker live-docs mask. The resolved set holds at most
        one row per doc (resolve_tombstones), so the index size bounds
        the driver copy: 8 bytes per deleted doc, at any number of
        delete calls."""
        if self._deleted is None:
            return {}
        if self._tomb_cache is None:
            # Arrow-batched transfer: a py4j row-at-a-time collect of
            # millions of rows costs tens of seconds; toArrow moves
            # the two int columns in columnar batches and, unlike
            # toPandas, does not depend on (or touch) the session's
            # spark.sql.execution.arrow.pyspark.enabled, so concurrent
            # searchers share no mutable session state here.
            tbl = self._deleted.toArrow()
            segs = tbl.column("seg").to_numpy().astype(np.int64)
            docs = tbl.column("doc").to_numpy().astype(np.int64)
            order = np.lexsort((docs, segs))
            segs, docs = segs[order], docs[order]
            bounds = np.flatnonzero(np.diff(segs)) + 1
            self._tomb_cache = {
                int(chunk_segs[0]): chunk_docs
                for chunk_segs, chunk_docs in zip(
                    np.split(segs, bounds), np.split(docs, bounds))
                if chunk_segs.size}
        return self._tomb_cache

    def warmup(self) -> "IndexSearcher":
        """Absorb the session's first-query fixed costs before serving
        traffic: spawn the Python worker pool on every scan slot, import
        this module in each worker (_count_rows), read
        each postings segment file's parquet footer, prime the
        term-stats footer, and materialize the tombstone memo. The work
        is metadata-plus-one-int-column only — no postings bytes are
        decoded — yet it fronts the cold-start the first real query
        otherwise pays (measured 10.1s first vs 5.2s steady at 10M docs,
        BENCH_10M.json). This is the SearcherFactory warm hook of the
        reference's SearcherManager (search_manager.rs:132
        SearcherFactory; Lucene warms new NRT searchers the same way);
        streaming.SearcherManager calls it before swapping a refreshed
        searcher in."""
        self._coalesced(self._postings.select("seg")).mapInPandas(
            _count_rows, "n long").collect()
        self._term_stats.select("term").limit(1).collect()
        self._tomb_by_seg()
        return self

    def _check_field(self, field: str) -> None:
        """Unknown fields are a hard error — never silently score against
        another field's postings (round-1 VERDICT 'What's wrong #1')."""
        if field not in self.fields:
            raise ValueError(
                f"unknown field {field!r}; index has {self.fields}")

    def _check_positions(self, field: str) -> None:
        """Positional queries against a docs/freqs-level field are a hard
        error, matching the reference's IllegalState on running a
        phrase/span over a field indexed without positions
        (index_options.rs:18-24; posting_iterator position checks)."""
        opt = self.field_options.get(field, "positions")
        if opt != "positions":
            raise ValueError(
                f"field {field!r} was indexed at level {opt!r} (no"
                " positions); phrase/span queries require"
                " index options 'positions'")

    def _check_verify_cap(self, candidate_bound: int, what: str) -> None:
        """Reject a per-doc-Python verify whose metadata candidate bound
        (min required-clause df — free from term stats, no job) exceeds
        ``verify_candidate_cap``. The bound is conservative: the real
        conjunction can only be smaller, but a query whose RAREST
        required term matches more than the cap would verify a
        corpus-sized candidate set doc-by-doc in Python — at 10^12 docs
        that is the one loop that cannot be allowed to run implicitly."""
        if candidate_bound > self.verify_candidate_cap:
            raise ValueError(
                f"{what}: candidate bound {candidate_bound:,} exceeds"
                f" verify_candidate_cap={self.verify_candidate_cap:,}."
                " Narrow the query (FilterQuery / rarer required term),"
                " use an exact phrase (slop=0, never capped), or"
                " construct IndexSearcher(verify_candidate_cap=...)"
                " deliberately higher.")

    # ------------------------------------------------------------------
    # public API
    # ------------------------------------------------------------------

    def _live(self, frame: DataFrame) -> DataFrame:
        """Skip deleted docs (BulkScorer's live_docs check, bulk_scorer.rs)
        in a frame of every match (``k=None``): a broadcast anti-join with
        the resolved set, which holds at most one row per doc."""
        if self._deleted is None:
            return frame
        return frame.join(F.broadcast(self._deleted), ["seg", "doc"],
                          "left_anti")

    _PLAN_CACHE_MAX = 1024

    def search(self, query: Query, k: int = 10) -> DataFrame:
        """Top-k by (score desc, seg asc, doc asc) joined back to doc keys.

        A query whose term stats are cached runs two Spark jobs: the plan
        scan with its top-k under the broadcast exchange, and the
        docmeta scan and join under one ``TakeOrderedAndProject``
        (_topk_hits) — no sort job. A term not seen before adds one stats
        lookup job (_stats_for).

        The planned DataFrame is memoized per (query value, k): Catalyst
        analysis/optimization is a fixed DRIVER cost that does not shrink
        with executor count, so a serving tier replaying a query mix
        would otherwise pay it per request (it caps throughput-scaling
        efficiency the way any serial fraction does). The memoized
        DataFrame also keeps its executed adaptive plan, broadcast
        included, so a repeated (query, k) reruns only the docmeta join
        over the first call's top-k: one job. That is right because a
        searcher is point-in-time (its deletes are fixed at construction,
        like a Lucene point-in-time reader); each of the up to
        ``_PLAN_CACHE_MAX`` entries pins its broadcast until the searcher
        is dropped."""
        return self._memo_plan((repr(query), k), lambda: self._topk_hits(
            self._query_frame({0: (query, np.float32(1.0))}, k).select(
                "seg", "doc", "score"), k))

    def _memo_plan(self, key, build) -> DataFrame:
        """The plan cache: ``build()``'s DataFrame, memoized per key."""
        out = self._plan_cache.get(key)
        if out is None:
            out = build()
            if len(self._plan_cache) < self._PLAN_CACHE_MAX:
                self._plan_cache[key] = out
        return out

    def _topk_hits(self, frame: DataFrame, k: int) -> DataFrame:
        """The (score desc, seg, doc) top-k rows of a ``(seg, doc,
        score)`` frame, joined back to docmeta (top-k side broadcast).

        The join yields at most k rows, since ``(seg, doc)`` is unique in
        docmeta, so the final sort is a ``limit(k)`` too: Catalyst plans
        it as ``TakeOrderedAndProject`` over the join — no range-partition
        sample job, no shuffle of the docmeta scan, which stays parallel
        (``coalesce(1)`` would also drop the sample, but run the whole
        docmeta scan in one task)."""
        topk = frame.orderBy(F.desc("score"), "seg", "doc").limit(k)
        return (self._docmeta.join(F.broadcast(topk), ["seg", "doc"])
                .orderBy(F.desc("score"), "seg", "doc").limit(k))

    @staticmethod
    def _fold_boost(q: Query, boost: np.float32):
        """Fold BoostQuery layers — and the SpanBoostQuery layers atop a
        span query (span_boost.rs:290-291) — into ``boost``."""
        while isinstance(q, (BoostQuery, SpanBoostQuery)):
            boost = np.float32(boost * np.float32(q.boost))
            q = q.query
        return q, boost

    def search_many(self, queries: list[Query], k: int = 10) -> DataFrame:
        """Micro-batch serving: top-k for MANY queries in ONE distributed
        job, returned with a ``qid`` column (the query's index in
        ``queries``).

        One Spark job per request is a local-mode anti-pattern: job
        dispatch is a fixed driver cost, so per-request serving stops
        scaling with executors as soon as the per-query work is small
        (the reference serves per-query because a native process has no
        such dispatch floor — searcher.rs drives scorers inline). A
        high-throughput tier instead aggregates concurrent requests into
        micro-batches.

        The batch does NOT become one union branch per query — a
        200-branch union schedules thousands of tiny tasks through the
        driver's single-threaded DAG scheduler, which is exactly the
        serial floor again. Instead every postings-only query of the
        batch becomes one output of ONE plan set (_postings_frame): one
        term-pruned scan, and inside each scan task every query's plan
        evaluated per segment, with no shuffle. Every query with a
        docmeta-backed leaf becomes one output of ONE rows evaluation
        (_query_frame): one scan for their postings-only subtrees and one
        (seg, doc) shuffle. Tombstones are handled as in search()
        (_query_frame), and a per-query window keeps each query's top-k.
        The docmeta join then yields at most ``k * len(queries)`` rows,
        so the final (qid, score desc, seg, doc) sort is a limit of that
        many — a ``TakeOrderedAndProject``, as in _topk_hits.
        Rank/score identity vs per-query search() is asserted by
        tests/test_search_many.py."""
        return self._memo_plan((tuple(repr(q) for q in queries), k, "many"),
                               lambda: self._many_hits(queries, k))

    def _many_hits(self, queries: list[Query], k: int) -> DataFrame:
        if not queries:
            return self._docmeta.join(self.spark.createDataFrame(
                [], f"qid int, {self._score_schema}"), ["seg", "doc"])
        frame = self._query_frame(
            {i: (q, np.float32(1.0)) for i, q in enumerate(queries)}, k)
        w = Window.partitionBy("_q").orderBy(F.desc("score"), "seg", "doc")
        topk = (frame.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k).drop("_rn")
                .select(F.col("_q").alias("qid"), "seg", "doc", "score"))
        return (self._docmeta.join(F.broadcast(topk), ["seg", "doc"])
                .orderBy("qid", F.desc("score"), "seg", "doc")
                .limit(k * len(queries)))

    def search_with_timeout(self, query: Query, k: int = 10,
                            timeout_s: float = 30.0) -> list:
        """TimeoutCollector analogue (collector/timeout.rs:34-98): bound
        the collection's wall clock. The reference's collector checks a
        deadline between per-leaf collect calls; in a distributed engine
        the natural cancellation unit is the JOB, so the search runs in
        its own Spark job group and the deadline cancels the group
        (interrupting running tasks). Raises ``TimeoutError`` on expiry —
        partial results of a cancelled distributed collection are not
        well-defined, so unlike the reference we surface the timeout
        instead of returning a truncated (non-deterministic) hit list.

        Job-group scoping from a worker thread requires PySpark's
        pinned-thread mode (``PYSPARK_PIN_THREAD``, the default since
        Spark 3.2): only then is ``setJobGroup`` thread-local on the JVM
        side. The search runs in an :class:`pyspark.InheritableThread`
        (the pinned-mode-aware thread wrapper); if pinning is explicitly
        disabled we skip the cancellation — cancelling a job group from a
        shared JVM thread could cancel unrelated concurrent jobs."""
        import uuid as _uuid

        from pyspark import InheritableThread

        pinned = os.environ.get(
            "PYSPARK_PIN_THREAD", "true").lower() != "false"
        sc = self.spark.sparkContext
        gid = f"rucene-timeout-{_uuid.uuid4().hex[:8]}"
        result: list = []
        err: list = []

        def run():
            if pinned:
                sc.setJobGroup(gid, "search_with_timeout",
                               interruptOnCancel=True)
            try:
                result.extend(self.search(query, k).collect())
            except Exception as e:  # cancelled jobs surface as Py4J errors
                err.append(e)

        t = InheritableThread(target=run, daemon=True)
        t.start()
        t.join(timeout_s)
        if t.is_alive():
            if pinned:
                sc.cancelJobGroup(gid)
                t.join(30.0)
            how = ("cancelled" if pinned else
                   "NOT cancelled: pinned-thread mode disabled")
            raise TimeoutError(
                f"search exceeded {timeout_s}s (job group {gid} {how})")
        if err:
            raise err[0]
        return result

    def count(self, query: Query) -> int:
        # count fast paths (searcher.rs:632-654); under deletes the live
        # count per leaf is maxDoc - numDeletedDocs, a metadata fold
        if isinstance(query, MatchAllDocsQuery):
            return self.doc_count - sum(
                len(v) for v in self._tomb_by_seg().values())
        if isinstance(query, TermQuery):
            self._check_field(query.field)
            if self._deleted is not None:
                return self._term_count_live(query)
            row = self._stats_for([(query.field, query.term)]).get(
                (query.field, query.term))
            return int(row["df"]) if row else 0
        return self._live(
            self._frame(query, np.float32(1.0), needs_scores=False)).count()

    def _term_count_live(self, q: TermQuery) -> int:
        """TermQuery count under deletes as a per-segment fold — the
        tombstone-aware analogue of the df fast path. The exhaustive
        route (`_live(_frame(...)).count()`) materializes every matching
        (seg, doc) row out of the scan workers just to anti-join away
        the tombstones (measured 5.2s warm at 10M docs / 293 segments).
        Here segments with no tombstones contribute ``sum(num_docs)``
        from block metadata alone — their ``docs_bin`` is never decoded —
        and tombstoned segments decode docs batched and subtract
        searchsorted hits; ONE scalar leaves each scan task, so the job
        is bound by the term-pruned scan, not corpus-sized row export.
        Additive per row-group, so it needs no segment/file layout
        invariant. Cross-route equality incl. post-merge:
        tests/test_count_live.py."""
        tomb = self._tomb_by_seg()
        tomb_segs = set(tomb)

        def fn(batches):
            for pdf in batches:
                segs = pdf["seg"].to_numpy(np.int64)
                counts = pdf["num_docs"].to_numpy(np.int64)
                masked = np.fromiter((int(s) in tomb_segs for s in segs),
                                     dtype=bool, count=len(segs))
                total = int(counts[~masked].sum())
                if masked.any():
                    c2 = counts[masked]
                    docs = batch_delta_decode(
                        batch_unpack(
                            pdf["docs_bin"].to_numpy()[masked].tolist(),
                            c2),
                        c2).astype(np.int64)
                    seg_rep = np.repeat(segs[masked], c2)
                    total += len(docs)
                    for s in np.unique(seg_rep):
                        total -= int(_dead_mask(
                            tomb[int(s)], docs[seg_rep == s]).sum())
                yield pd.DataFrame({"c": [total]})

        scan = self._postings.filter(
            (F.col("field") == q.field) & (F.col("term") == q.term)
        ).select("seg", "num_docs", "docs_bin")
        df = self._coalesced(scan).mapInPandas(fn, "c long")
        row = df.agg(F.sum("c").alias("c")).collect()[0]
        return int(row["c"] or 0)

    _NUMERIC_DTYPES = ("tinyint", "smallint", "int", "bigint", "float",
                       "double", "decimal", "date", "timestamp")

    def _resolve_sort(self, sort_cols) -> list:
        """Resolve a mixed list of Column expressions (back-compat) and
        typed :class:`~rucene_spark.query.SortField` entries into
        ordering expressions with the reference's missing-value
        semantics (field_comparator.rs:124-367; see SortField)."""
        from .query import SortField

        dtypes = None
        out = []
        for sc in sort_cols:
            if not isinstance(sc, SortField):
                out.append(sc)
                continue
            if dtypes is None:
                dtypes = dict(self._docmeta.dtypes)
            if sc.field not in dtypes:
                raise ValueError(
                    f"unknown sort field {sc.field!r};"
                    f" docmeta has {sorted(dtypes)}")
            t = dtypes[sc.field]
            if t.startswith(self._NUMERIC_DTYPES):
                mv = 0 if sc.missing_value is None else sc.missing_value
                c = F.coalesce(F.col(sc.field), F.lit(mv).cast(t))
                out.append(c.desc() if sc.reverse else c.asc())
            else:
                mv = sc.missing_value or "first"
                if mv not in ("first", "last"):
                    raise ValueError(
                        f"string sort field {sc.field!r}: missing_value"
                        " must be 'first' or 'last'"
                        " (SortFieldMissingValue)")
                c = F.col(sc.field)
                # first/last refer to NATURAL order; under reverse the
                # -inf/+inf substitute flips ends accordingly
                if sc.reverse:
                    out.append(c.desc_nulls_last() if mv == "first"
                               else c.desc_nulls_first())
                else:
                    out.append(c.asc_nulls_first() if mv == "first"
                               else c.asc_nulls_last())
        return out

    def search_sorted(self, query: Query, sort_cols, k: int = 10,
                      early_terminate: bool = False) -> DataFrame:
        """Top-k by doc-values fields (sort_field.rs:28-110 analogue).

        ``sort_cols`` mixes raw Column expressions over docmeta columns
        (back-compat) and typed :class:`SortField` entries carrying
        per-type missing-value ordering. ``early_terminate`` is the
        EarlyTerminatingSortingCollector
        analogue (early_terminating.rs:24-92): each segment contributes at
        most its own top-k before the global merge — unlike the
        reference's (which requires index sort == query sort), the
        per-segment cut is always rank-safe here because the global top-k
        is a superset-free merge of per-segment top-ks."""
        sort_cols = self._resolve_sort(sort_cols)
        frame = self._live(self._frame(query, np.float32(1.0), needs_scores=False))
        joined = self._docmeta.join(frame.select("seg", "doc"), ["seg", "doc"])
        if early_terminate:
            w = Window.partitionBy("seg").orderBy(*sort_cols, "doc")
            joined = (joined.withColumn("_rn", F.row_number().over(w))
                      .filter(F.col("_rn") <= k).drop("_rn"))
        return joined.orderBy(*sort_cols, "seg", "doc").limit(k)

    def collapse(self, query: Query, group_col: str, k: int = 10) -> DataFrame:
        """Field collapsing: best-scoring hit per group value
        (collapse_top_docs.rs:239-326 analogue via window row_number)."""
        frame = self._live(self._frame(query, np.float32(1.0), needs_scores=True))
        joined = self._docmeta.join(frame, ["seg", "doc"])
        w = Window.partitionBy(group_col).orderBy(F.desc("score"), "seg", "doc")
        return (
            joined.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .orderBy(F.desc("score"), "seg", "doc")
            .limit(k)
        )

    def rescore(self, query: Query, rescore_query: Query, window: int, k: int,
                weight: float = 1.0, rescore_weight: float = 1.0) -> DataFrame:
        """Re-rank the top-``window`` of ``query`` with a second query
        (rescorer.rs:38-130: combined = w1*s1 + w2*s2 on the candidate set)."""
        first = (
            self._live(self._frame(query, np.float32(1.0), needs_scores=True))
            .orderBy(F.desc("score"), "seg", "doc")
            .limit(window)
            .withColumnRenamed("score", "s1")
        )
        second = self._frame(rescore_query, np.float32(1.0), needs_scores=True)
        combined = (
            first.join(second.withColumnRenamed("score", "s2"), ["seg", "doc"], "left")
            .withColumn(
                "score",
                (F.lit(weight) * F.col("s1")
                 + F.lit(rescore_weight) * F.coalesce(F.col("s2"), F.lit(0.0))
                 ).cast(self._score_t),
            )
            .select("seg", "doc", "score")
        )
        return self._topk_hits(combined, k)

    def search_blockmax(self, terms: list[str], k: int = 10,
                        boosts: list[float] | None = None,
                        field: str | None = None) -> DataFrame:
        """Block-max pruned top-k for a should-sum disjunction of distinct
        ``terms`` — the MaxScore/BMW hybrid the north rule adds over the
        reference (SURVEY.md §4.3: rucene stores skip pointers,
        skip_writer.rs:36-56, but no impact bounds and no WAND operator).

        It runs the per-segment BMW collector (_blockmax_collector_topk /
        _bmw_seg_topk), which masks tombstones in the worker before it
        takes θ. Duplicate terms, or ``boosts`` of another length than
        ``terms``, raise ValueError.
        """
        if len(set(terms)) != len(terms):
            raise ValueError(f"search_blockmax: duplicate terms in {terms!r}")
        if boosts is None:
            boosts = [1.0] * len(terms)
        if len(boosts) != len(terms):
            raise ValueError(
                f"search_blockmax: {len(boosts)} boosts for "
                f"{len(terms)} terms")
        field = field or self.default_field
        self._check_field(field)
        stats = self._stats_for([(field, t) for t in terms])
        infos = [(t, float(np.float32(b))) for t, b in zip(terms, boosts)
                 if (field, t) in stats]
        if not infos:
            return self._docmeta.join(
                self.spark.createDataFrame([], self._score_schema), ["seg", "doc"])
        return self._blockmax_collector_topk(infos, field, stats, k)

    def _blockmax_collector_topk(self, infos: list[tuple], field: str,
                                 stats: dict, k: int) -> DataFrame:
        """Zero-shuffle BMW top-k of ``infos`` = (term, boost): one
        mapInPandas over the term-pruned scan runs _bmw_seg_topk per
        segment (≤k rows per segment out), the way Lucene runs WAND per
        leaf inside one collect pass."""
        k1_, b_ = self.sim_f[field]
        terms = [t for t, _ in infos]
        ti_of = {t: i for i, t in enumerate(terms)}
        tw = self._term_weight_table([(field, t, b) for t, b in infos],
                                     stats)
        bmw = (int(k), ti_of, tw, self.cache_f[field].astype(np.float64),
               k1_, b_, self.avgdl64_f[field])

        def seg_fn(sub, tomb):
            return [(0, *_bmw_seg_topk(sub, tomb, *bmw))]

        frame = self._seg_map(self._coalesced(self._postings.filter(
            (F.col("field") == field) & F.col("term").isin(terms)).select(
                *_BMW_SCAN_COLS)), seg_fn, k)
        return self._topk_hits(frame, k)

    # ------------------------------------------------------------------
    # explain
    # ------------------------------------------------------------------

    def explain(self, query: Query, seg: int, doc: int) -> dict:
        """Structured score breakdown for one (seg, doc) — the reference's
        ``Explanation`` tree (bm25_similarity.rs:265-361, explanation.rs):
        nested ``{value, description, details}`` dicts. The value is
        bit-identical to the doc's search() score in both scoring modes:
        boosts fold into the leaf weights the way search() passes them
        down, and every node combines with the plan evaluator's
        arithmetic (_eval_node)."""
        return self._explain(query, np.float32(1.0), seg, doc)

    def _explain(self, query: Query, boost: np.float32, seg: int,
                 doc: int) -> dict:
        query, boost = self._fold_boost(query, boost)
        if isinstance(query, TermQuery):
            return self._explain_term(query, boost, seg, doc)
        if isinstance(query, PhraseQuery):
            return self._explain_phrase(query, boost, seg, doc)
        if isinstance(query, _SpanQueryT):
            return self._explain_span(query, boost, seg, doc)
        # a node: its children explained as rows leaves (_compile), its
        # value from _eval_node over their one-doc values; a
        # docmeta-backed leaf explains from its frame's row at the doc
        ex: list[dict] = []

        def child(x, b, s):
            ex.append(self._explain(x, b, seg, doc))
            return ("rows", len(ex) - 1)

        def leaf(x, b, s):
            row = self._leaf_frame(x, b, s).filter(
                (F.col("seg") == seg) & (F.col("doc") == doc)).head()
            name = type(x).__name__
            ex.append({"match": True, "value": float(row["score"]),
                       "description": f"{name}, score:", "details": []}
                      if row is not None else _no_match(f"no match ({name})"))
            return ("rows", len(ex) - 1)

        node = self._compile(query, boost, None, True, child, leaf)
        if node[0] == "rows":
            return ex[0]

        def one_doc(leaf):
            n = int(ex[leaf[1]]["match"])
            return (np.full(n, doc, dtype=np.int64),
                    np.full(n, ex[leaf[1]]["value"], dtype=np.float64))

        d, v = _eval_node(node, one_doc, self.scoring == "lucene")
        name = type(query).__name__
        if node[0] == "bool":
            # BooleanWeight::explain semantics: a failed must/filter, a
            # matching must_not, or unmet min_should_match all make the
            # doc a NON-match, even if other clauses would contribute score
            nm, ns, nf = map(len, (query.musts, query.shoulds,
                                   query.filters))
            desc = "sum of:"
            kept = ex[:nm] + [e for e in ex[nm:nm + ns] if e["match"]]
            why = next(reason for failed, reason in (
                (not all(e["match"] for e in ex[:nm]),
                 "Failure to meet condition of required clause"),
                (len(kept) - nm < query.min_should_match,
                 "Failure to match minimum number of optional clauses:"
                 f" {query.min_should_match}"),
                (not all(e["match"] for e in ex[nm + ns:nm + ns + nf]),
                 "Failure to meet condition of filter clause"),
                (any(e["match"] for e in ex[nm + ns + nf:]),
                 "Failure to meet condition of prohibited clause"),
                (True, "no matching clauses")) if failed)
        elif node[0] == "dismax":
            # DisjunctionMaxWeight::explain (dis_max.rs): max of the
            # matching sub-explanations, plus tie_breaker × the others
            tie = float(query.tie_breaker)
            desc = ("max of:" if tie == 0.0
                    else f"max plus {tie} times others of:")
            kept = [e for e in ex if e["match"]]
            why = "No matching clause"
        else:
            desc, kept, why = f"{name}, score:", ex, f"no match ({name})"
        if not len(d):
            return _no_match(why, ex)
        return {"match": True, "value": float(v[0]), "description": desc,
                "details": kept}

    def _explain_term(self, q: TermQuery, boost: np.float32,
                      seg: int, doc: int) -> dict:
        """TermWeight::explain — the term kernels' score of the doc's tf
        (one-term _explain_bm25)."""
        self._check_field(q.field)
        stats = self._stats_for([(q.field, q.term)])
        hits, nb, dl = ({}, 0, 0) if not stats else self._doc_postings(
            q.field, [q.term], seg, doc, positions=False)
        if q.term not in hits:
            return _no_match(f"no matching term term={q.term}")
        return self._explain_bm25(
            q.field, [q.term], hits[q.term][0], nb, dl,
            np.float32(boost * np.float32(q.boost)), doc, "term " + q.term,
            stats)

    def payloads(self, field: str, term: str, seg: int,
                 doc: int) -> list[tuple[int, bytes]]:
        """Per-position payloads of one (seg, doc, term) — the
        ``PostingsEnum::payload()`` surface (posting_reader.rs payload();
        the reference exposes payloads via the postings iterator, it ships
        no payload-consuming query — neither do we). Returns
        ``[(position, payload_bytes), ...]``; positions without payloads
        carry ``b""``. Empty list when the doc/term has no postings or the
        field was not indexed with a payload-emitting analyzer
        (``delimited_payload`` mode)."""
        from .codec import unpack_payloads

        self._check_field(field)
        self._check_positions(field)
        blocks = self._postings.filter(
            (F.col("field") == field) & (F.col("term") == term)
            & (F.col("seg") == seg)
            & (F.col("first_doc") <= doc) & (F.col("last_doc") >= doc)
        ).collect()
        for b in blocks:
            d = delta_decode(unpack_ints(b["docs_bin"], b["num_docs"]))
            idx = np.flatnonzero(d == doc)
            if not idx.size:
                continue
            tfs = unpack_ints(b["tfs_bin"], b["num_docs"]).astype(np.int64)
            lo = int(tfs[:idx[0]].sum())
            tf = int(tfs[idx[0]])
            flat_pos = varint_decode(b["pos_bin"], int(tfs.sum())
                                     ).astype(np.int64)
            # per-doc delta chains: cumsum within this doc's slice
            pos = np.cumsum(flat_pos[lo:lo + tf])
            pay_bin = b["pay_bin"] if "pay_bin" in b.__fields__ else b""
            if pay_bin:
                pays = unpack_payloads(bytes(pay_bin), int(tfs.sum()))
                doc_pays = [bytes(p) for p in pays[lo:lo + tf]]
            else:
                doc_pays = [b""] * tf
            return list(zip(pos.tolist(), doc_pays))
        return []

    def _doc_postings(self, field: str, terms: list[str], seg: int,
                      doc: int, positions: bool = True):
        """Per-term ``(tf, positions)`` of one (seg, doc) plus its
        (norm_byte, dl) — one pushed postings scan of the blocks whose
        doc range holds the doc, decoded in this process (positions are
        None unless asked for); explain-path helper."""
        blocks = self._postings.filter(
            (F.col("field") == field) & F.col("term").isin(terms)
            & (F.col("seg") == seg)
            & (F.col("first_doc") <= doc) & (F.col("last_doc") >= doc)
        ).select("term", "num_docs", "docs_bin", "tfs_bin", "norms_bin",
                 "dls_bin", *(["pos_bin"] if positions else [])).collect()
        hits, nb, dl = {}, 0, 0
        for b in blocks:
            n = b["num_docs"]
            idx = np.flatnonzero(
                delta_decode(unpack_ints(b["docs_bin"], n)) == doc)
            if not idx.size:
                continue
            i = int(idx[0])
            tfs = unpack_ints(b["tfs_bin"], n).astype(np.int64)
            pos = None
            if positions:
                flat, _ = batch_unpack_positions([b["pos_bin"]], tfs)
                lo = int(tfs[:i].sum())
                pos = flat[lo:lo + tfs[i]].astype(np.int64)
            hits[b["term"]] = (int(tfs[i]), pos)
            nb = int(unpack_ints(b["norms_bin"], n)[i])
            dl = int(unpack_ints(b["dls_bin"], n)[i])
        return hits, nb, dl

    def _idf_sum_detail(self, field: str, terms: list[str],
                        stats: dict) -> tuple[np.float32, float, dict]:
        """(f32 idf sum, f64 idf sum, Explanation detail) over ``terms``
        in encounter order — PhraseWeight/SpanWeight idf accumulation."""
        idf32_total = np.float32(0.0)
        idf64_total = 0.0
        per_term = []
        for t in terms:
            row = stats.get((field, t))
            df_ = int(row["df"]) if row else 0
            i32 = idf32(df_, self.doc_count)
            idf32_total = np.float32(idf32_total + i32)
            idf64_total += float(np.log(
                1.0 + (self.doc_count - df_ + 0.5) / (df_ + 0.5)))
            per_term.append({
                "value": float(i32),
                "description": f"idf(docFreq={df_},"
                               f" docCount={self.doc_count})",
                "details": [],
            })
        detail = {"value": float(idf32_total),
                  "description": "idf(), sum of:", "details": per_term}
        return idf32_total, idf64_total, detail

    def _tf_norm(self, field: str, freq: float, nb: int,
                 dl: int) -> tuple[float, float]:
        """(tfNorm, fieldLength) Explanation details of a doc's freq: f32
        over the norm byte's length in "lucene" mode, f64 over the exact
        length otherwise."""
        from .smallfloat import NORM_TABLE

        k1_, b_ = self.sim_f[field]
        if self.scoring == "lucene":
            tff = np.float32(freq)
            return (float((tff * (np.float32(k1_) + np.float32(1.0)))
                          / (tff + self.cache_f[field][nb])),
                    float(NORM_TABLE[nb]))
        return (float(freq * (k1_ + 1.0) / (
            freq + k1_ * ((1.0 - b_) + b_ * dl / self.avgdl64_f[field]))),
            float(dl))

    def _explain_bm25(self, field: str, idf_terms: list[str],
                      freq: float, nb: int, dl: int, boost: np.float32,
                      doc: int, what: str, stats: dict) -> dict:
        """Shared BM25 Explanation tree of a term, phrase or span leaf
        (``what`` names it) — the value is the leaf kernels' own
        _freq_scores (f32 path in "lucene" mode, f64 otherwise),
        bm25_similarity.rs:265-361."""
        _, _, idf_detail = self._idf_sum_detail(field, idf_terms, stats)
        wk32, coef64 = self._bm25_weight(field, idf_terms, boost,
                                         stats)
        k1_, b_ = self.sim_f[field]
        cache = self.cache_f[field]
        value = float(_freq_scores(
            np.asarray([freq]), np.asarray([nb]), np.asarray([dl]),
            self.scoring == "lucene", wk32, cache, coef64, k1_, b_,
            self.avgdl64_f[field])[0])
        tf_norm, field_len = self._tf_norm(field, freq, nb, dl)
        return {
            "match": True,
            "value": value,
            "description": f"score(doc={doc},freq={freq}),"
                           f" product of ({what}):",
            "details": [
                idf_detail,
                {"value": tf_norm,
                 "description": "tfNorm, computed as (freq * (k1 + 1)) /"
                                " (freq + k1 * (1 - b + b * fieldLength /"
                                " avgFieldLength)) from:",
                 "details": [
                     {"value": float(freq),
                      "description": what.split(" ")[0] + "Freq",
                      "details": []},
                     {"value": float(k1_), "description": "parameter k1",
                      "details": []},
                     {"value": float(b_), "description": "parameter b",
                      "details": []},
                     {"value": float(self.avgdl_f[field]),
                      "description": "avgFieldLength", "details": []},
                     {"value": field_len, "description": "fieldLength",
                      "details": []},
                 ]},
            ],
        }

    def _explain_phrase(self, q: PhraseQuery, boost: np.float32,
                        seg: int, doc: int) -> dict:
        """PhraseWeight::explain — phraseFreq from the shared kernels (the
        same freq the plan's phrase leaf verifies), idf summed over terms in
        phrase order."""
        self._check_field(q.field)
        self._check_positions(q.field)
        stats = self._stats_for([(q.field, t) for t in q.terms])
        if any((q.field, t) not in stats for t in q.terms):
            return _no_match("no matching term")
        hits, nb, dl = self._doc_postings(q.field, sorted(set(q.terms)),
                                          seg, doc)
        if any(t not in hits for t in q.terms):
            return _no_match("no matching term")
        pls = [hits[t][1] for t in q.terms]
        if q.slop == 0:
            freq = float(exact_phrase_freq(pls, list(q.positions)))
        else:
            freq = float(sloppy_phrase_freq(
                pls, list(q.positions), list(q.terms), q.slop))
        if freq <= 0:
            return _no_match(f"no matching phrase occurrence (slop={q.slop})")
        return self._explain_bm25(
            q.field, list(q.terms), freq, nb, dl, boost, doc,
            "phrase " + " ".join(q.terms), stats)

    def _explain_span(self, q, boost: np.float32, seg: int,
                      doc: int) -> dict:
        """SpanWeight::explain — freq = f32 Σ 1/(1+width) over the span
        kernel's emitted spans, identical to the plan's span leaf."""
        field = q.field
        self._check_field(field)
        self._check_positions(field)
        terms = span_terms(q)
        stats = self._stats_for([(field, t) for t in terms])
        uniq_terms = sorted(set(terms))
        ti_of = {t: i for i, t in enumerate(uniq_terms)}
        spec = span_spec(q, ti_of)
        hits, nb, dl = self._doc_postings(field, uniq_terms, seg, doc)
        pos_map = {ti_of[t]: pos for t, (_, pos) in hits.items()}
        freq = float(span_freq(spec, pos_map)) if pos_map else 0.0
        if freq <= 0:
            return _no_match("no matching spans")
        return self._explain_bm25(
            field, terms, freq, nb, dl, boost, doc, "span query", stats)

    # ------------------------------------------------------------------
    # stats
    # ------------------------------------------------------------------

    @staticmethod
    def _terms_cond(keys):
        """Filter for the (field, term) ``keys``: terms are OR-grouped per
        field, so the parquet filter stays pushdown-friendly."""
        by_field: dict[str, list[str]] = {}
        for f_, t in keys:
            by_field.setdefault(f_, []).append(t)
        return reduce(lambda a, b: a | b,
                      [(F.col("field") == f_) & F.col("term").isin(ts)
                       for f_, ts in by_field.items()])

    def _stats_for(self, keys: list[tuple[str, str]]) -> dict[tuple[str, str], dict]:
        """(field, term) → stats row dict; memoized (misses cached too).
        One pruned scan (_terms_cond) fetches every missing key."""
        want = set(keys)
        missing = [k for k in want if k not in self._stats_cache]
        if missing:
            rows = self._term_stats.filter(
                self._terms_cond(missing)).collect()
            for r in rows:
                self._stats_cache[(r["field"], r["term"])] = r.asDict()
            for k in missing:
                self._stats_cache.setdefault(k, None)
        return {k: self._stats_cache[k] for k in want
                if self._stats_cache[k] is not None}

    def _collect_terms(self, q: Query) -> list[tuple[str, str]]:
        """All (field, term) leaves of a query tree (validates fields)."""
        if isinstance(q, TermQuery):
            terms = [q.term]
        elif isinstance(q, PhraseQuery):
            terms = q.terms
        elif isinstance(q, _SpanQueryT):
            terms = span_terms(q)
        else:
            return [t for s in _children(q) for t in self._collect_terms(s)]
        self._check_field(q.field)
        return [(q.field, t) for t in terms]

    # ------------------------------------------------------------------
    # planning: query tree → (seg, doc, score) frame
    # ------------------------------------------------------------------

    def _frame(self, q: Query, boost: np.float32,
               needs_scores: bool) -> DataFrame:
        q, boost = self._fold_boost(q, boost)
        if not needs_scores and self._query_cache is not None:
            cached = self._cached_filter_frame(q, boost)
            if cached is not None:
                return cached
        return self._query_frame({0: (q, boost)}, None, needs_scores).select(
            "seg", "doc", "score")

    def _cached_filter_frame(self, q: Query,
                             boost: np.float32) -> DataFrame | None:
        """CachingWrapperWeight::create_scorer protocol
        (query_cache.rs:416-456), step for step: policy.on_use, index
        size eligibility (:424-428 — the leaf min_size test, applied to
        the whole index since our cache unit is the generation-keyed
        persisted frame, cache.py module docstring), cache lookup
        (:430-443, hit = constant-score set), then policy.should_cache
        gating compute-and-store (:445-455).  Returns None to run the
        query uncached.  Only reached with needs_scores=False — the
        QueryCache::do_cache equivalence contract (query_cache.rs:42-54).

        Boost wrappers fold away first (_frame) and ConstantScore
        wrappers are skipped (their inner query is consulted on
        recursion instead) — the policy tracks the ACTUAL query type
        (cache_policy.rs:93,105 debug-asserts the weight is never
        CONSTANT). Inside a tree, only the children that are neither
        scored nor postings-only reach here (_compile); postings-only
        ones ride the tree's one-scan plan (_postings_frame), which beats
        a per-clause cached set — the same economics behind the policy's
        min-frequency 20 for cheap term filters.

        A ``MinScoreQuery`` inside compares its cutoff with the scores
        the folded boost scales, so such a subtree's set is computed at
        that boost and the boost joins its key; every other set is
        computed at boost 1 under the bare query key."""
        from .cache import query_cache_key
        if isinstance(q, ConstantScoreQuery):
            return None
        key = query_cache_key(q)
        if key is None:
            return None
        at = np.float32(1.0)
        if _holds_min_score(q):
            at = boost
            key = f"{key}^{float(boost)!r}"
        qc, policy = self._query_cache, self._caching_policy
        policy.on_use(q, key)
        if self.doc_count < qc.min_size:
            return None
        hit = qc.get(self._gen_key, key)
        if hit is None:
            if not policy.should_cache(q, key):
                return None
            frame = self._query_frame({0: (q, at)}, None, False)
            hit = qc.put(self._gen_key, key, frame.select("seg", "doc"))
        s = float(np.float32(boost))
        return hit.select(
            "seg", "doc", F.lit(s).cast(self._score_t).alias("score"))

    def _query_frame(self, trees: dict, k: int | None,
                     scored: bool = True) -> DataFrame:
        """``(_q, seg, doc, score)`` rows of query trees
        ``trees[output_id] = (query, boost)``: with ``k``, live rows
        whose per-``_q`` top-k is each tree's (the workers mask
        tombstones and keep per-segment top-k rows); with ``k=None``
        every match. Postings-only trees are outputs of one plan
        scan (_postings_frame). The others compile into nodes over rows
        leaves (_compile) — their postings-only subtrees from one more
        plan scan, docmeta leaves (_leaf_frame) and, with a query cache,
        unscored children's _frame — hash-partitioned ONCE by (seg, doc)
        and evaluated per segment by _eval_node; a bare docmeta-backed
        leaf is its frame."""
        post = {o: t for o, t in trees.items() if _postings_only(t[0])}
        rest = {o: t for o, t in trees.items() if o not in post}
        parts = [self._postings_frame(post, k)] if post else []
        self._stats_for([key for q, _ in rest.values()
                         for key in self._collect_terms(q)])
        # rows leaves: postings-only subtrees (outputs of one more plan
        # scan) and (seg, doc, score) frames, numbered in one id space
        subtrees, frames = {}, []

        def frame_leaf(frame):
            lid = len(subtrees) + len(frames)
            frames.append(frame.select(F.lit(lid).alias("_q"), "seg", "doc",
                                       "score"))
            return ("rows", lid)

        def child(x, b, s):
            if _postings_only(x):
                lid = len(subtrees) + len(frames)
                subtrees[lid] = (x, b)
                return ("rows", lid)
            if not s and self._query_cache is not None:
                # the cache lookup of an unscored child (_frame)
                return frame_leaf(self._frame(x, b, False))
            return None  # compiled into this tree

        def leaf(x, b, s):
            return frame_leaf(self._leaf_frame(x, b, s))

        nodes = []
        for oid, (q, boost) in rest.items():
            node = self._compile(q, boost, None, scored, child, leaf)
            if node[0] != "rows":
                nodes.append((oid, node))
                continue
            # a bare docmeta-backed leaf: its frame is the output
            frame = frames.pop().withColumn("_q", F.lit(oid))
            parts.append(frame if k is None else self._live(frame))
        if nodes:
            leaves = frames + ([self._postings_frame(subtrees, None)]
                               if subtrees else [])
            n_leaves = len(subtrees) + len(frames)
            lucene = self.scoring == "lucene"

            def seg_fn(sub, tomb):
                doc = sub["doc"].to_numpy(np.int64)
                score = sub["score"].to_numpy(np.float64)
                at = np.searchsorted(sub["_q"].to_numpy(),
                                     np.arange(n_leaves + 1))
                return _seg_outputs(nodes, lambda n: (
                    doc[at[n[1]]:at[n[1] + 1]],
                    score[at[n[1]]:at[n[1] + 1]]), tomb, k, lucene)

            parts.append(self._seg_map(
                reduce(DataFrame.unionByName, leaves)
                .repartition("seg", "doc")
                .sortWithinPartitions("seg", "_q", "doc"), seg_fn, k))
        return reduce(DataFrame.unionByName, parts)

    def _leaf_frame(self, q: Query, boost: np.float32,
                    scored: bool) -> DataFrame:
        """``(seg, doc, score)`` frame of a docmeta-backed leaf: a
        doc-values leaf constant-scored at ``boost`` over docmeta, or a
        FilterQuery's inner query frame joined to docmeta and filtered."""
        if isinstance(q, (MatchAllDocsQuery, RangeQuery, MultiRangeQuery,
                          ExistsQuery)):
            # multi-dim points (bkd_writer.rs) test all dims in ONE scan,
            # each range a filter pushed to the Parquet reader
            if isinstance(q, MultiRangeQuery):
                ranges = q.ranges
            elif isinstance(q, RangeQuery):
                ranges = [(q.column, q.lower, q.upper)]
            elif isinstance(q, ExistsQuery):
                ranges = [(q.column, None, None)]
            else:
                ranges = []
            cond = F.lit(True)
            for col, lo, hi in ranges:
                cond = cond & F.col(col).isNotNull()
                if lo is not None:
                    cond = cond & (F.col(col) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(col) <= F.lit(hi))
            s = float(np.float32(boost))
            return self._docmeta.filter(cond).select(
                "seg", "doc", F.lit(s).cast(self._score_t).alias("score"))
        if isinstance(q, FilterQuery):
            # candidate generation first, expensive per-doc predicate after
            # (two-phase iteration, filter_query.rs:28-52)
            inner = self._frame(q.query, boost, scored)
            joined = inner.join(self._docmeta, ["seg", "doc"])
            if callable(q.predicate):
                pred = q.predicate

                def fn(batches):
                    for pdf in batches:
                        if len(pdf) == 0:
                            continue
                        mask = np.asarray(pred(pdf), dtype=bool)
                        yield pdf.loc[mask, ["seg", "doc", "score"]]

                return joined.mapInPandas(fn, self._score_schema)
            return joined.filter(q.predicate).select("seg", "doc", "score")
        raise TypeError(f"unsupported query: {type(q)}")

    def _postings_frame(self, trees: dict, k: int | None) -> DataFrame:
        """``(_q, seg, doc, score)`` rows of postings-only query trees
        (_postings_only), ``trees[output_id] = (query, boost)`` — the one
        evaluator of term, phrase and span leaves under any nesting of
        boolean, dismax, boost, constant-score, min-score and boosting.

        Like the reference's scorer tree per leaf reader
        (boolean_query.rs:195-279, conjunction_scorer.rs:20-127), each
        tree compiles into a plan (_compile) that runs per segment inside
        ONE term-pruned scan over the union of the leaves' keys, reading
        ``pos_bin`` only for phrase/span leaves: term rows decode once,
        phrase/span leaves run their kernels, nodes combine in numpy
        (_eval_node). Tasks hold whole segments (_iter_seg_chunks), so no
        (seg, doc) shuffle exists. With ``k`` (a root) the worker masks
        tombstones and keeps each output's per-segment top-k; with
        ``k=None`` every match is emitted and the caller live-masks."""
        stats = self._stats_for([key for q, _ in trees.values()
                                 for key in self._collect_terms(q)])
        plan = _Plan(stats)
        outputs = [(oid, self._compile(q, boost, plan))
                   for oid, (q, boost) in trees.items()]
        if not plan.scan_keys:
            return self.spark.createDataFrame(
                [], f"_q int, {self._score_schema}")
        tw = self._term_weight_table(plan.clauses, stats)
        kid_of, pos_keys = plan.kid_of, frozenset(plan.pos_keys)
        chunk0 = _VERIFY_CHUNK

        def seg_fn(sub, tomb):
            leaf = _SegPostings(sub, kid_of, pos_keys, tw, chunk0)
            return _seg_outputs(outputs, leaf, tomb, k, tw[0])

        cols = _TERM_SCAN_COLS + (_POS_SCAN_COLS if pos_keys else ())
        return self._seg_map(self._coalesced(self._postings.filter(
            self._terms_cond(plan.scan_keys)).select(*cols)), seg_fn, k)

    def _compile(self, q: Query, boost: np.float32, plan: "_Plan | None",
                 scored: bool = True, child=lambda x, b, s: None,
                 leaf=None):
        """A query tree as a plan node for _eval_node. Boosts fold into
        each leaf's weight the way the oracle passes them down; filter,
        must-not, constant-score and boosting-negative children compile
        with boost 1 and ``scored=False`` (their scores are never used).
        Postings-only trees record in ``plan`` what their one scan reads.
        Other callers pass ``child(x, boost, scored)`` — a child's node,
        or None to compile it here — and ``leaf(x, boost, scored)`` for
        the docmeta-backed leaves."""
        q, boost = self._fold_boost(q, boost)
        one = np.float32(1.0)
        if isinstance(q, TermQuery):
            key = (q.field, q.term)
            kid = plan.kid_of.setdefault(key, len(plan.kid_of))
            plan.scan_keys.setdefault(key)
            plan.clauses.append(
                (q.field, q.term, float(np.float32(boost
                                                   * np.float32(q.boost)))))
            return ("term", kid, len(plan.clauses) - 1)
        if isinstance(q, (PhraseQuery, _SpanQueryT)):
            self._check_field(q.field)
            self._check_positions(q.field)
            if isinstance(q, PhraseQuery):
                return self._compile_phrase(q, boost, plan)
            return self._compile_span(q, boost, plan)

        def sub(x, b, s=scored):
            return child(x, b, s) or self._compile(x, b, plan, s, child, leaf)

        if isinstance(q, BooleanQuery):
            return ("bool", [sub(x, boost) for x in q.musts],
                    [sub(x, boost) for x in q.shoulds],
                    [sub(x, one, False) for x in q.filters],
                    [sub(x, one, False) for x in q.must_nots],
                    q.min_should_match)
        if isinstance(q, DisjunctionMaxQuery):
            return ("dismax", [sub(d, boost) for d in q.disjuncts],
                    float(q.tie_breaker))
        if isinstance(q, ConstantScoreQuery):
            return ("const", sub(q.query, one, False),
                    float(np.float32(boost * np.float32(q.boost))))
        if isinstance(q, MinScoreQuery):
            return ("min", sub(q.query, boost, True), float(q.min_score))
        if isinstance(q, BoostingQuery):
            return ("boosting", sub(q.positive, boost),
                    sub(q.negative, one, False), float(q.negative_boost))
        if leaf is None:
            raise TypeError(f"not a postings-only query: {type(q)}")
        return leaf(q, boost, scored)

    # -- leaves ---------------------------------------------------------

    def _term_weight_table(self, clauses: list[tuple], stats: dict):
        """BM25 constants of term clauses ``(field, term, boost)`` as
        arrays indexed by clause number — the ``tw`` table of
        _term_scores: (lucene, f32 wk, the clauses' fields' norm caches
        concatenated, each clause's offset into them, f64 coef, k1, b,
        avgdl)."""
        fields = list(dict.fromkeys(f_ for f_, _, _ in clauses))
        for f_ in fields:
            self._check_field(f_)
        caches = [self.cache_f[f_] for f_ in fields]
        off = dict(zip(fields, np.cumsum([0] + [len(c) for c in caches])))
        rows = [(*self._bm25_weight(f_, [t], np.float32(b), stats),
                 off[f_], *self.sim_f[f_], self.avgdl64_f[f_])
                for f_, t, b in clauses]
        wk32, coef, cofs, k1_a, b_a, avg_a = (
            np.asarray([r[i] for r in rows], dtype=dt) for i, dt in
            enumerate((np.float32, np.float64, np.int64, np.float64,
                       np.float64, np.float64)))
        cache = (np.concatenate(caches) if caches
                 else np.zeros(0, dtype=np.float32))
        return (self.scoring == "lucene", wk32, cache, cofs, coef, k1_a,
                b_a, avg_a)

    def _bm25_weight(self, field: str, terms: list[str],
                     boost: np.float32, stats: dict):
        """(f32 wk, f64 coef) of a term clause (``terms`` of one) or of a
        phrase or span query: idf summed over ``terms`` in query order
        (PhraseWeight / SpanWeight), times the boost and (k1 + 1) — the
        per-clause constants of _freq_scores."""
        idf32_total, idf64_total, _ = self._idf_sum_detail(
            field, terms, stats)
        k1_ = self.sim_f[field][0]
        wk32 = np.float32(np.float32(idf32_total * boost)
                          * (np.float32(k1_) + np.float32(1.0)))
        return wk32, (idf64_total * float(boost)) * _kp1_64(k1_)

    def _seg_map(self, rows: DataFrame, seg_fn, k: int | None) -> DataFrame:
        """``rows`` (a postings scan, or a seg-sorted shuffle) streamed
        per segment (_iter_seg_chunks) through ``seg_fn(rows, tomb)`` →
        iterable of ``(output_id, docs, scores)``, as ``(_q, seg, doc,
        score)`` rows. ``tomb`` is the segment's sorted tombstoned docs
        with ``k`` (a root), else None."""
        tomb = self._tomb_by_seg() if k is not None else {}
        ftype = np.float32 if self.scoring == "lucene" else np.float64

        def fn(batches):
            # streamed per segment — peak memory is one segment's rows
            # no matter how many segments a partition holds
            for s, sub in _iter_seg_chunks(batches):
                parts = list(seg_fn(sub, tomb.get(int(s))))
                if not parts:
                    continue
                n = sum(len(d) for _, d, _ in parts)
                yield pd.DataFrame({
                    "_q": np.repeat(np.asarray([o for o, _, _ in parts],
                                               dtype=np.int32),
                                    [len(d) for _, d, _ in parts]),
                    "seg": np.full(n, s, dtype=np.int32),
                    "doc": np.concatenate([d for _, d, _ in parts]),
                    "score": np.concatenate(
                        [v for _, _, v in parts]).astype(ftype),
                })

        return rows.mapInPandas(fn, f"_q int, {self._score_schema}")

    def _positional_leaf(self, field: str, idf_terms: list[str],
                         boost: np.float32, plan: "_Plan", keys: list,
                         group_tis: list, bound, freqs):
        """Plan leaf of a phrase or span query over the positional
        ``keys`` (term ``ti`` is ``keys[ti]``), verified and scored
        inside the scan task by _positional_topk with the query type's
        ``bound`` and ``freqs``: as a root it verifies in impact order
        and stops once the k-th score beats every remaining bound
        (pos_bin blocks that cannot beat θ are never decoded); nested,
        every candidate is verified in bounded chunks. Scored with idf
        summed over ``idf_terms`` (PhraseWeight / SpanWeight). Tests:
        tests/test_phrase_collector.py, tests/test_spans.py,
        tests/test_nested_positional.py."""
        wk32, coef64 = self._bm25_weight(field, idf_terms, boost,
                                         plan.stats)
        bm = (self.scoring == "lucene", wk32, self.cache_f[field], coef64,
              *self.sim_f[field], self.avgdl64_f[field])
        plan.add_positional(keys)
        return ("positional", keys, group_tis, bm, bound, freqs)

    def _compile_phrase(self, q: PhraseQuery, boost: np.float32,
                        plan: "_Plan"):
        """Positional leaf of a phrase query (exact or sloppy): one
        candidate group per term, freq bound and verify by
        _phrase_bound / _phrase_freqs."""
        stats = plan.stats
        if any((q.field, t) not in stats for t in q.terms):
            # a missing term matches nothing; its keys stay in the scan
            # filter (never decoded), so every plan reads postings once
            for t in q.terms:
                plan.scan_keys.setdefault((q.field, t))
            return ("none",)
        if q.slop > 0 and len(set(q.terms)) != len(q.terms):
            self._check_verify_cap(
                min(int(stats[(q.field, t)]["df"]) for t in q.terms),
                f"sloppy phrase {q.terms!r}~{q.slop}")

        # hot-pair rewrite (build.py bigram channel): for an exact phrase,
        # every adjacent (a@p, b@p+1) slot pair with BOTH terms in the hot
        # vocabulary collapses into ONE pseudo-slot backed by the pair
        # postings — pair-position set == capped(a) ∩ (capped(b)−1), so the
        # slot-intersection semantics (and therefore freq and score) are
        # unchanged, while the conjunction shrinks from corpus-sized
        # stopword lists to the tiny adjacency lists and the min-tf bound
        # becomes the EXACT adjacency count.  A 2-term hot phrase reduces
        # to a single slot and never decodes positions at all
        # (_phrase_freqs).  Rank/score identity vs the
        # unrewritten path is asserted by tests/test_bigrams.py.
        from .build import BIGRAM_SEP, BIGRAM_SUFFIX
        hot = self._bigram_hot(q.field) if q.slop == 0 else None
        terms_pos = [(t, int(p)) for t, p in zip(q.terms, q.positions)]
        new_slots: list[tuple[str, int, bool]] = []
        j = 0
        while j < len(terms_pos):
            t, p = terms_pos[j]
            if (hot and j + 1 < len(terms_pos)
                    and terms_pos[j + 1][1] == p + 1
                    and t in hot and terms_pos[j + 1][0] in hot):
                new_slots.append(
                    (t + BIGRAM_SEP + terms_pos[j + 1][0], p, True))
                j += 2
            else:
                new_slots.append((t, p, False))
                j += 1
        base_terms = sorted({t for t, _, isp in new_slots if not isp})
        pair_terms = sorted({t for t, _, isp in new_slots if isp})
        ti_of = {t: i for i, t in enumerate(base_terms + pair_terms)}
        slots = [(ti_of[t], p) for t, p, _ in new_slots]
        keys = ([(q.field, t) for t in base_terms]
                + [(q.field + BIGRAM_SUFFIX, t) for t in pair_terms])
        return self._positional_leaf(
            q.field, q.terms, boost, plan, keys,
            [[ti] for ti in range(len(keys))],
            partial(_phrase_bound, slots, int(q.slop)),
            partial(_phrase_freqs, slots, int(q.slop), list(q.terms)))

    def _compile_span(self, q, boost: np.float32, plan: "_Plan"):
        """Positional leaf of a span query: candidates hold ≥1 term of
        every required clause group, freq bound and verify by
        _span_count_bound / _span_freqs.
        Scored like a phrase: weight = f32-summed idf of the tree's terms
        in tree order, freq = f32 Σ 1/(1+width) over emitted spans.
        Top-level SpanBoostQuery layers fold into the boost (_compile's
        _fold_boost); boosts nested deeper are scoring no-ops like the
        reference's needs_scores=false sub-weights."""
        field = q.field
        terms = span_terms(q)
        uniq_terms = sorted(set(terms))
        ti_of = {t: i for i, t in enumerate(uniq_terms)}
        spec = span_spec(q, ti_of)

        # required-clause groups: a doc qualifies only with >=1 term of
        # EVERY top-level near clause (nested trees fold into their
        # top-level clause's group); or/term roots have a single group
        if isinstance(q, SpanNearQuery):
            groups = [span_terms(c) for c in q.clauses
                      if not isinstance(c, SpanGapQuery)]
        else:
            groups = [terms]
        if not _span_vectorized(spec):
            # a doc needs >=1 term of every required group, so the
            # smallest group's summed df bounds the candidate set
            def _df(t: str) -> int:
                row = plan.stats.get((field, t))
                return int(row["df"]) if row else 0
            self._check_verify_cap(
                min((sum(_df(t) for t in g) for g in groups), default=0),
                f"span query over {uniq_terms!r}")
        return self._positional_leaf(
            field, terms, boost, plan, [(field, t) for t in uniq_terms],
            [sorted({ti_of[t] for t in g}) for g in groups],
            partial(_span_count_bound, spec), partial(_span_freqs, spec))
