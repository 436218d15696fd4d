"""DataFrame-driven BM25 top-k searcher over a built index.

The reference's scorer trees (SURVEY.md §2.5) dissolve into relational
algebra on ``(seg, doc)``:

* postings scan      → Parquet scan of ``postings/`` with ``term`` pushdown
  (the blocktree seek becomes row-group pruning on the sorted term column);
* TermScorer         → mapInPandas block decode + vectorized f32 BM25;
* Conjunction/DisjunctionSum/ReqNot scorers → must/should/filter/not
  counts + min_should_match (disjunction_scorer.rs:24-104,
  req_not_scorer.rs:21) over each (seg, doc): for term, boolean-of-term
  and term-dismax queries a numpy reduction inside the scan task (the
  per-segment term collector, ``_collector_topk_frame``); for booleans
  mixing other clause kinds a groupBy(seg, doc) over the clauses'
  frames, the term clauses decoded and scored by the same term kernel
  in their scan task (``_batch_term_frame``);
* Exact/SloppyPhraseScorer, span scorers → one per-segment leaf
  (``_phrase_leaf`` / ``_span_leaf``): the doc-level conjunction runs in
  numpy inside the scan task, then the shared phrase/span kernels verify
  positions on the candidates only (two-phase iteration: cheap
  conjunction first, expensive position check after —
  search/mod.rs:127-155). A root leaf keeps its per-segment top-k; a
  nested one emits every verified (seg, doc, score) row;
* TopDocsCollector   → ``ORDER BY score DESC, seg, doc LIMIT k``
  (TakeOrderedAndProject = per-partition heap + merge, top_docs.rs:28-172).

Scoring modes:

* ``lucene``  — float32, byte315 norms, reproduces the reference kernel
  (rank-identical to oracle.py); clause sums accumulate in f64 and cast to
  f32 once (same documented divergence as the oracle).
* ``precise`` — float64, exact field lengths; every formula is
  ANSI-SQL-expressible, which is what the DuckDB correctness gate checks.

Stats are global across segments; term stats for the query's terms are one
tiny pruned scan collected to the driver (the analogue of
``IndexSearcher``'s weight-time stats fetch, searcher.rs:690-767) and
memoized per searcher. All transcendentals (ln, the norm cache) are
computed driver-side in numpy and shipped as literals/closures, so executor
math is pure f32/f64 arithmetic.

Multi-term queries read the postings table ONCE (``term IN (...)`` pushed
to Parquet) and decode every clause in a single Arrow stage — the
scale-critical property that per-term scans would lose at wide boolean
queries.

``search_blockmax`` is the BMW (block-max WAND) serving path the north
rule adds on top of the reference (SURVEY.md §4.3), one per-segment
kernel (``_bmw_seg_topk``): per-128-doc-block upper bounds computed from
stored ``(max_tf, max_norm_byte, min_dl)`` metadata prune block decodes
against a θ lower bound obtained by exactly scoring the segment's
highest-impact term. Pruning is provably rank-preserving (any doc in a
pruned block has total score < θ ≤ the true k-th score), which
``tests/test_blockmax.py`` asserts against the exhaustive scorer. Above
the tombstone broadcast gate it runs that exhaustive disjunction.
"""

from __future__ import annotations

import os
from functools import reduce

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
    PhraseQuery,
    Query,
    RangeQuery,
    TermQuery,
)
from .query import SpanQuery as _SpanQueryT

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
    through _term_scores by every term collector."""
    if lucene:
        tf = freq.astype(np.float32)
        return ((wk32 * tf) / (tf + cache[nbs])).astype(np.float64)
    tf = freq.astype(np.float64)
    return coef64 * tf / (
        tf + k1_ * ((1.0 - b_) + b_ * dls.astype(np.float64) / avgdl64))


def _decode_term_rows(pdf: "pd.DataFrame", lucene: bool):
    """FOR-decode a batch of term postings rows for the term collectors:
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
    """Float64 BM25 of term postings, posting i scored against clause
    ``ci[i]`` of the weight table ``tw`` (IndexSearcher._term_weight_table)
    through _freq_scores. In "lucene" mode a clause's norm byte indexes
    its field's slice of the concatenated norm caches."""
    lucene, wk32, cache, cofs, coef64, k1_, b_, avg = tw
    if lucene:
        return _freq_scores(tfs, aux + cofs[ci], None, True, wk32[ci],
                            cache, None, None, None, None)
    return _freq_scores(tfs, None, aux, False, None, None, coef64[ci],
                        k1_[ci], b_[ci], avg[ci])


def _expand_clauses(row_kid, counts, cl_counts, cl_starts):
    """Expand decoded term postings to (posting, clause) pairs. Scan row
    i holds ``counts[i]`` postings of key ``row_kid[i]``, whose clauses
    are the contiguous clause numbers ``cl_starts[kid] + range(
    cl_counts[kid])``; each row repeats its postings once per clause.
    Returns the posting index (a slice when no key has two clauses) and
    the clause number of every expanded posting. A doc's rows keep scan
    order, then clause order, so per-doc sums stay in one fixed order."""
    n_rows = len(row_kid)
    rc = cl_counts[row_kid]
    exp_row = np.repeat(np.arange(n_rows), rc)
    within = np.arange(int(rc.sum())) - np.repeat(np.cumsum(rc) - rc, rc)
    cidx = np.repeat(cl_starts[row_kid], rc) + within
    lens_e = counts[exp_row]
    if bool((rc == 1).all()):
        idx = slice(None)
    else:
        v_starts = np.cumsum(counts) - counts
        ends_e = np.cumsum(lens_e)
        idx = (np.repeat(v_starts[exp_row], lens_e)
               + np.arange(int(lens_e.sum()))
               - np.repeat(ends_e - lens_e, lens_e))
    return idx, np.repeat(cidx, lens_e)


def _dead_mask(tomb, docs) -> np.ndarray:
    """Which of ``docs`` are in the segment's sorted tombstone array."""
    if tomb is None or len(docs) == 0:
        return np.zeros(len(docs), dtype=bool)
    pos = np.searchsorted(tomb, docs)
    return (pos < len(tomb)) & (tomb[np.minimum(pos, len(tomb) - 1)]
                                == docs)


def _collector_seg_reduce(doc, qid, gid, role, sc, g_role, g_nm, g_nf,
                          g_ms, r_nm, r_nf, r_ms, tomb, lucene, ftype, k):
    """Segment-local boolean reduction for the term collector
    (_collector_topk_frame): numpy sort/reduceat mirror of the JVM
    boolean aggregation (stage 1 per (qid, gid, doc); stage 2 folds
    satisfied one-level groups into virtual root clauses; root
    must/filter/not/msm arithmetic; tombstone mask; with ``k`` a
    per-query top-k by (score desc, doc asc), with ``k=None`` every
    satisfied row).  Stable lexsort keeps scan order within each key so
    the float64 accumulation order matches the JVM sum."""
    # stage 1: reduce per (qid, gid, doc)
    order = np.lexsort((doc, gid, qid))
    d, g, q = doc[order], gid[order], qid[order]
    r, v = role[order], sc[order].astype(np.float64)
    nb = np.empty(len(d), dtype=bool)
    if len(d):
        nb[0] = True
    nb[1:] = (d[1:] != d[:-1]) | (g[1:] != g[:-1]) | (q[1:] != q[:-1])
    starts = np.flatnonzero(nb)
    sc1 = np.add.reduceat(np.where(r <= 1, v, 0.0), starts)
    nm = np.add.reduceat((r == 0).astype(np.int64), starts)
    ns = np.add.reduceat((r == 1).astype(np.int64), starts)
    nf = np.add.reduceat((r == 2).astype(np.int64), starts)
    nn = np.add.reduceat((r == 3).astype(np.int64), starts)
    kq, kg, kd = q[starts], g[starts], d[starts]

    # stage 2: satisfied groups become virtual root clauses
    is_root = kg == 0
    if not is_root.all():
        gm = ~is_root
        gg = kg[gm]
        ok = ((nm[gm] == g_nm[gg]) & (nf[gm] == g_nf[gg])
              & (nn[gm] == 0) & (ns[gm] >= g_ms[gg]))
        grole = g_role[gg][ok]
        gsc_raw = sc1[gm][ok]
        if lucene:
            gsc = np.where(grole <= 1,
                           gsc_raw.astype(np.float32).astype(np.float64),
                           0.0)
        else:
            gsc = np.where(grole <= 1, gsc_raw, 0.0)
        q2 = np.concatenate([kq[is_root], kq[gm][ok]])
        d2 = np.concatenate([kd[is_root], kd[gm][ok]])
        v2 = np.concatenate([sc1[is_root], gsc])
        nm2 = np.concatenate([nm[is_root],
                              (grole == 0).astype(np.int64)])
        ns2 = np.concatenate([ns[is_root],
                              (grole == 1).astype(np.int64)])
        nf2 = np.concatenate([nf[is_root],
                              (grole == 2).astype(np.int64)])
        nn2 = np.concatenate([nn[is_root],
                              (grole == 3).astype(np.int64)])
        o2 = np.lexsort((d2, q2))
        d2, q2 = d2[o2], q2[o2]
        v2, nm2, ns2 = v2[o2], nm2[o2], ns2[o2]
        nf2, nn2 = nf2[o2], nn2[o2]
        # d2 CAN be empty: a batch whose rows are all group clauses with
        # no group satisfied (e.g. every should-group missed its msm)
        # leaves no root rows and no virtual clauses (found by the
        # merged-layout fuzz, tests/test_merged_fuzz.py)
        nb2 = np.empty(len(d2), dtype=bool)
        if len(d2):
            nb2[0] = True
        nb2[1:] = (d2[1:] != d2[:-1]) | (q2[1:] != q2[:-1])
        st2 = np.flatnonzero(nb2)
        sc3 = np.add.reduceat(v2, st2)
        nm3 = np.add.reduceat(nm2, st2)
        ns3 = np.add.reduceat(ns2, st2)
        nf3 = np.add.reduceat(nf2, st2)
        nn3 = np.add.reduceat(nn2, st2)
        q3, d3 = q2[st2], d2[st2]
    else:
        q3, d3, sc3 = kq, kd, sc1
        nm3, ns3, nf3, nn3 = nm, ns, nf, nn

    keep = ((nm3 == r_nm[q3]) & (nf3 == r_nf[q3]) & (nn3 == 0)
            & (ns3 >= r_ms[q3]))
    q3, d3, sc3 = q3[keep], d3[keep], sc3[keep]
    live = ~_dead_mask(tomb, d3)
    q3, d3, score = q3[live], d3[live], sc3[live].astype(ftype)
    if k is None or len(q3) == 0:
        return q3, d3, score
    # per-query top-k by (score desc, doc asc)
    o = np.lexsort((d3, -score.astype(np.float64), q3))
    qs_, ds_, ss_ = q3[o], d3[o], score[o]
    new_q = np.empty(len(qs_), dtype=bool)
    new_q[0] = True
    new_q[1:] = qs_[1:] != qs_[:-1]
    grp_start = np.maximum.accumulate(
        np.where(new_q, np.arange(len(qs_)), 0))
    sel = (np.arange(len(qs_)) - grp_start) < k
    return qs_[sel], ds_[sel], ss_[sel]


class _LazyPositions:
    """Per-term lazily-decoded position store for the collector kernels.

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


def _phrase_seg_topk(tds, slots, offsets, tomb, k, chunk0, lucene, wk32,
                     cache, coef64, k1_, b_, avgdl64, slop=0, terms=None):
    """Segment-local phrase top-k with impact-ordered verification; with
    ``k=None`` every candidate is verified and every hit returned.

    ``tds[ti]`` holds one unique term's postings for THIS segment:
    sorted ``docs``, aligned ``tfs``/``nbs``/``dls``, per-block entry
    ``counts`` and the still-encoded ``pos_bins`` blobs.  The phrase
    frequency of a doc is bounded by its minimum per-slot tf
    (phrase_scorer.rs:179-229: every occurrence consumes one position of
    every slot), and the BM25 kernel is monotone in freq, so
    ``ub(doc) = score(min_tf)`` is a true float32 upper bound.  Docs are
    verified in ub-descending chunks; once k docs are verified with true
    score θ, every remaining doc has ``ub < θ`` and is skipped WITHOUT
    its positions ever being decoded — pos_bin blocks no chunk doc lands
    in are never varint-decoded at all (the phrase analogue of
    search_blockmax's per-block bound; the reference has no phrase
    impacts — phrase_query.rs:223-270 bails only via two-phase
    match_cost — so rank identity vs the exhaustive ``k=None`` run is
    test-asserted, tests/test_phrase_collector.py).

    Verification itself is whole-chunk vectorized: each slot's positions
    become ``doc * SHIFT + (pos - slot_offset + pad)`` keys and the
    per-doc intersection of shifted position sets is one sorted
    ``np.intersect1d`` chain; freq per doc falls out of a unique-count
    over the surviving keys' doc prefixes.
    """
    uniq_tis = sorted({ti for ti, _ in slots})
    conj = tds[uniq_tis[0]]["docs"]
    for ti in uniq_tis[1:]:
        conj = np.intersect1d(conj, tds[ti]["docs"], assume_unique=True)
        if conj.size == 0:
            break
    conj = conj[~_dead_mask(tomb, conj)]
    if conj.size == 0:
        e64 = np.empty(0, dtype=np.float64)
        return np.empty(0, dtype=np.int64), e64

    ent = {ti: np.searchsorted(tds[ti]["docs"], conj) for ti in uniq_tis}
    if slop == 0:
        # exact: every occurrence consumes one position of every slot
        bound = tds[uniq_tis[0]]["tfs"][ent[uniq_tis[0]]]
        for ti in uniq_tis[1:]:
            bound = np.minimum(bound, tds[ti]["tfs"][ent[ti]])
    else:
        # sloppy: every _SloppyFreq loop iteration consumes one
        # next_position() of some slot and emits ≤1 match (+1 final
        # emit), so matches ≤ Σ_slots tf − n_slots + 1; each match
        # contributes ≤1 to freq (1/(1+len), len ≥ 0)
        bound = None
        for ti, _off in slots:
            tf_s = tds[ti]["tfs"][ent[ti]]
            bound = tf_s.copy() if bound is None else bound + tf_s
        bound = bound - len(slots) + 1
    t0 = uniq_tis[0]
    nbs_c = tds[t0]["nbs"][ent[t0]]
    dls_c = tds[t0]["dls"][ent[t0]]
    bm = (lucene, wk32, cache, coef64, k1_, b_, avgdl64)
    ub64 = _freq_scores(bound, nbs_c, dls_c, *bm)
    if slop == 0 and len(slots) == 1:
        # single slot — a 2-term phrase fully served by the bigram pair
        # channel (or a degenerate 1-term phrase): the stored tf IS the
        # phrase freq, so ub64 is already the exact score; top-k without
        # ever touching pos_bin
        sel = np.lexsort((conj, -ub64))[:k]
        return conj[sel], ub64[sel]
    order = np.lexsort((conj, -ub64))

    offpad = max(offsets) if offsets else 0
    stores = {ti: _LazyPositions(tds[ti]) for ti in uniq_tis}

    def _gather(ti, ent_chunk, docs_chunk):
        """positions of the given (ascending) entries of term ti →
        (doc-repeated array, flat positions, per-entry tf), decoding
        only the pos_bin blocks the entries land in (batched + memoized
        across chunks by the _LazyPositions store)."""
        flat, tfe = stores[ti].gather(ent_chunk)
        return np.repeat(docs_chunk, tfe), flat, tfe

    vd_parts, vs_parts = [], []
    n_hits = 0
    theta = None
    n = len(order)
    i = 0
    chunk = max(int(chunk0), 4 * (k or 0), 1)
    chunk_max = 64 * chunk
    while i < n:
        if theta is not None and ub64[order[i]] < theta:
            break
        sel = order[i:min(n, i + chunk)]
        so = np.argsort(conj[sel])
        cd = conj[sel][so]
        nbs_k = nbs_c[sel][so]
        dls_k = dls_c[sel][so]

        gathered = {}
        for ti, off in slots:
            if ti not in gathered:
                gathered[ti] = _gather(ti, ent[ti][sel][so], cd)
        if slop == 0:
            acc = None
            maxpos = 0
            slot_keys = []
            for ti, off in slots:
                g = gathered[ti]
                maxpos = max(maxpos, int(g[1].max(initial=0)))
                slot_keys.append((g, off))
            # key on the doc's RANK within the chunk (not the global doc
            # id) so rank << bits can never overflow int64
            bits = int(maxpos + offpad + 2).bit_length()
            for (dr, pr, _tfe), off in slot_keys:
                keys = (np.searchsorted(cd, dr) << np.int64(bits)) + (
                    pr - off + offpad)
                acc = keys if acc is None else np.intersect1d(
                    acc, keys, assume_unique=True)
                if acc.size == 0:
                    break
            freq = np.zeros(len(cd), dtype=np.float64)
            if acc is not None and acc.size:
                hr, hc = np.unique(acc >> np.int64(bits),
                                   return_counts=True)
                freq[hr] = hc
        else:
            # sloppy verify on the chunk over the gathered flat arrays
            # (every chunk doc holds every term): the shared phrase
            # kernels, batch-vectorized for distinct terms, per-doc heap
            # walk for repeated terms (candidate-capped upstream by the
            # caller)
            two_term = (len(slots) == 2 and slots[0][0] != slots[1][0])
            distinct = len({ti for ti, _ in slots}) == len(slots)
            if two_term:
                # flat fast path: the gathered arrays are already
                # doc-ordered flats (every chunk doc holds every term) —
                # feed the flat kernel directly, no per-doc slicing
                _da, pra, tfa = gathered[slots[0][0]]
                _db, prb, tfb = gathered[slots[1][0]]
                freq = sloppy_phrase_freq_2term_flat(
                    pra, tfa, prb, tfb,
                    offsets[0], offsets[1], slop).astype(np.float64)
            elif distinct:
                # n≥3 distinct slots: lockstep heap-walk simulation
                # across the whole chunk (round-4 verdict #2) — no
                # per-doc Python, no candidate cap needed
                freq = sloppy_phrase_freq_nslot_flat(
                    [gathered[ti][1] for ti, _ in slots],
                    [gathered[ti][2] for ti, _ in slots],
                    offsets, slop).astype(np.float64)
            else:
                slices = {}
                for ti, g in gathered.items():
                    _dr, pr, tfe = g
                    ends = np.cumsum(tfe)
                    slices[ti] = [pr[ends[j] - tfe[j]:ends[j]]
                                  for j in range(len(cd))]
                freq = np.zeros(len(cd), dtype=np.float64)
                for r in range(len(cd)):
                    pls = [slices[ti][r] for ti, _ in slots]
                    freq[r] = float(sloppy_phrase_freq(
                        pls, offsets, terms, slop))
        hit = freq > 0
        if hit.any():
            vd_parts.append(cd[hit])
            vs_parts.append(_freq_scores(freq[hit], nbs_k[hit], dls_k[hit],
                                         *bm))
            n_hits += int(hit.sum())
            if k is not None and n_hits >= k:
                allsc = np.concatenate(vs_parts)
                theta = float(np.partition(allsc, len(allsc) - k)[len(allsc) - k])
        i += len(sel)
        chunk = min(4 * chunk, chunk_max)

    if not vd_parts:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    dv = np.concatenate(vd_parts)
    sv = np.concatenate(vs_parts)
    o = np.lexsort((dv, -sv))[:k]
    return dv[o], sv[o]


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


def _span_seg_topk(tds, spec, group_tis, tomb, k, chunk0, lucene, wk32,
                   cache, coef64, k1_, b_, avgdl64, fast2, ta2, tb2,
                   slop2, fastn=False):
    """Segment-local span top-k with impact-ordered verification — the
    span analogue of :func:`_phrase_seg_topk` (``k=None``: every hit).

    ``tds[ti]`` holds one term's postings for THIS segment. Candidates
    are docs holding ≥1 term of EVERY required clause group. The impact
    bound is score(_span_count_bound), so docs are verified in
    ub-descending chunks and verification stops once the k-th verified
    score exceeds every remaining bound; pos_bin blocks no surviving
    chunk doc lands in are never decoded. Verification is the shared
    span kernel — vectorized for ordered nears over term/gap clauses
    (``fast2`` for two terms, ``fastn`` otherwise), per-doc
    :func:`spans.span_freq` for other shapes (candidate-capped upstream
    by the caller)."""
    from .spans import (
        ordered_near_freq_2term_flat,
        ordered_near_freq_nclause_flat,
        span_freq,
    )

    e_i = np.empty(0, dtype=np.int64)
    if not tds:
        return e_i, np.empty(0, dtype=np.float64)
    if all(len(g) == 1 for g in group_tis):
        # every clause group is one required term: the candidate set is
        # a plain sorted intersection (the phrase kernel's shape) — no
        # concatenate/argsort/reduceat machinery
        conj = None
        for (ti,) in group_tis:
            td = tds.get(ti)
            docs_g = td["docs"] if td is not None else e_i
            conj = docs_g if conj is None else np.intersect1d(
                conj, docs_g, assume_unique=True)
            if conj.size == 0:
                break
        if conj is None:
            conj = e_i
    else:
        doc_parts, ti_parts = [], []
        for ti, td in tds.items():
            doc_parts.append(td["docs"])
            ti_parts.append(np.full(len(td["docs"]), ti, dtype=np.int64))
        doc_el = np.concatenate(doc_parts)
        ti_el = np.concatenate(ti_parts)
        o = np.argsort(doc_el, kind="stable")
        doc_el, ti_el = doc_el[o], ti_el[o]
        nb_ = np.empty(len(doc_el), dtype=bool)
        nb_[0] = True
        nb_[1:] = doc_el[1:] != doc_el[:-1]
        starts = np.flatnonzero(nb_)
        docs_u = doc_el[starts]
        keep = np.ones(len(docs_u), dtype=bool)
        for g in group_tis:
            gm = np.isin(ti_el, list(g)).astype(np.int64)
            keep &= np.add.reduceat(gm, starts) > 0
        conj = docs_u[keep]
    conj = conj[~_dead_mask(tomb, conj)]
    if conj.size == 0:
        return e_i, np.empty(0, dtype=np.float64)

    n_cand = len(conj)
    ent, present = {}, {}
    # every ti the spec references gets a tf vector — terms with no
    # postings in this segment contribute 0 to the bound
    tfm: dict[int, np.ndarray] = {
        ti: np.zeros(n_cand, dtype=np.int64)
        for g in group_tis for ti in g
    }
    nbs_c = np.zeros(n_cand, dtype=np.int64)
    dls_c = np.zeros(n_cand, dtype=np.int64)
    filled = np.zeros(n_cand, dtype=bool)
    for ti, td in tds.items():
        p = np.searchsorted(td["docs"], conj)
        pm = (p < len(td["docs"])) & (
            td["docs"][np.minimum(p, len(td["docs"]) - 1)] == conj)
        ent[ti], present[ti] = p, pm
        tf_a = np.zeros(n_cand, dtype=np.int64)
        tf_a[pm] = td["tfs"][p[pm]]
        tfm[ti] = tf_a
        m = pm & ~filled
        if m.any():
            nbs_c[m] = td["nbs"][p[m]]
            dls_c[m] = td["dls"][p[m]]
            filled |= pm
    bm = (lucene, wk32, cache, coef64, k1_, b_, avgdl64)
    ub64 = _freq_scores(_span_count_bound(spec, tfm), nbs_c, dls_c, *bm)
    order = np.lexsort((conj, -ub64))

    stores = {ti: _LazyPositions(td) for ti, td in tds.items()}

    def _gather_pos(ti, ent_chunk):
        """flat positions + per-entry tf for ASCENDING entries of term
        ti, decoding only the blocks touched (batched + memoized across
        chunks by the _LazyPositions store)."""
        return stores[ti].gather(ent_chunk)

    vd_parts, vs_parts = [], []
    n_hits = 0
    theta = None
    n = len(order)
    i = 0
    chunk = max(int(chunk0), 4 * (k or 0), 1)
    chunk_max = 64 * chunk
    while i < n:
        if theta is not None and ub64[order[i]] < theta:
            break
        sel = order[i:min(n, i + chunk)]
        so = np.argsort(conj[sel])
        cidx = sel[so]
        cd = conj[cidx]
        nbs_k, dls_k = nbs_c[cidx], dls_c[cidx]
        if fast2:
            # flat fast path: both clauses are required single terms, so
            # every conj doc holds both (present[ta2]/present[tb2] are
            # all-True by the group-conjunction construction) — the
            # gathered flat positions feed the flat kernel directly, no
            # per-doc slicing
            flat_a, tfa = _gather_pos(ta2, ent[ta2][cidx])
            if tb2 == ta2:
                flat_b, tfb = flat_a, tfa
            else:
                flat_b, tfb = _gather_pos(tb2, ent[tb2][cidx])
            freqs = ordered_near_freq_2term_flat(
                flat_a, tfa, flat_b, tfb, slop2).astype(np.float64)
        elif fastn:
            # n-clause ordered near over term/gap clauses: every clause
            # term is its own required group, so every chunk doc holds
            # every clause — the gathered flats feed the lockstep kernel
            # directly (one gather per unique term, memoized per chunk)
            gath: dict[int, tuple] = {}
            clauses = []
            for s_ in spec[1]:
                if s_[0] == "gap":
                    clauses.append(("gap", s_[1]))
                    continue
                ti = s_[1]
                if ti not in gath:
                    gath[ti] = _gather_pos(ti, ent[ti][cidx])
                flat, tfe = gath[ti]
                clauses.append(("pos", flat, tfe))
            freqs = ordered_near_freq_nclause_flat(
                clauses, spec[2]).astype(np.float64)
        else:
            # per-term positions for this chunk: list-of-arrays aligned
            # to cd
            chunk_pos: dict[int, list] = {}
            for ti in tds:
                pm = present[ti][cidx]
                lst: list = [None] * len(cd)
                if pm.any():
                    flat, tfe = _gather_pos(ti, ent[ti][cidx][pm])
                    ends = np.cumsum(tfe)
                    where = np.flatnonzero(pm)
                    for j, w in enumerate(where):
                        lst[w] = flat[ends[j] - tfe[j]:ends[j]]
                chunk_pos[ti] = lst
            freqs = np.zeros(len(cd), dtype=np.float64)
            for r in range(len(cd)):
                pos_map = {ti: lst[r] for ti, lst in chunk_pos.items()
                           if lst[r] is not None}
                freqs[r] = float(span_freq(spec, pos_map))
        hit = freqs > 0
        if hit.any():
            vd_parts.append(cd[hit])
            vs_parts.append(_freq_scores(freqs[hit], nbs_k[hit],
                                         dls_k[hit], *bm))
            n_hits += int(hit.sum())
            if k is not None and n_hits >= k:
                allsc = np.concatenate(vs_parts)
                theta = float(
                    np.partition(allsc, len(allsc) - k)[len(allsc) - k])
        i += len(sel)
        chunk = min(4 * chunk, chunk_max)

    if not vd_parts:
        return e_i, np.empty(0, dtype=np.float64)
    dv = np.concatenate(vd_parts)
    sv = np.concatenate(vs_parts)
    o2 = np.lexsort((dv, -sv))[:k]
    return dv[o2], sv[o2]


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
    """Stream a collector partition's Arrow batches as one pandas frame
    per SEGMENT, without ever buffering the whole partition.

    A partition is a sequence of whole segment files (the searcher
    forbids file splits; _coalesced only unions whole partitions), each
    read in file order — so a segment's rows form one contiguous run in
    the batch stream. Buffering only until the seg value changes bounds
    worker memory at one segment's scan rows + one Arrow batch,
    independent of how many segments _coalesced packs into the task
    (a stopword-phrase scan over a many-segment partition would
    otherwise hold every packed segment's positions at once)."""
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


def _decode_seg_tds(sub: "pd.DataFrame", ti_of: dict) -> dict:
    """One segment's positional postings rows → per-term decode dict for
    the phrase/span collector kernels: sorted docs, aligned
    tfs/nbs/dls, per-block counts/ends and the still-encoded pos_bin
    blobs (decoded lazily by the kernels' block gathers)."""
    tds = {}
    for t, grp in sub.groupby("term", sort=False):
        grp = grp.sort_values("block_id")
        counts = grp["num_docs"].to_numpy(np.int64)
        tds[ti_of[t]] = {
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


_SCORE_SCHEMA = "seg int, doc long, score float"
_SCORE_SCHEMA64 = "seg int, doc long, score double"
_ROLE_CODE = {"m": 0, "s": 1, "f": 2, "n": 3}  # boolean clause roles
# postings columns of the phrase/span leaves and of the BMW collector
_LEAF_SCAN_COLS = ("term", "seg", "block_id", "num_docs", "docs_bin",
                   "tfs_bin", "norms_bin", "dls_bin", "pos_bin")
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
        spans.ordered_near_freq_2term_flat / _nclause_flat). Raise the
        cap explicitly for deliberate heavy queries.

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
        # per-segment kernels (_collector_topk_frame and the leaves), whose
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
        # live docs: tombstones resolved to (seg, doc) once, anti-joined onto
        # every match frame (live_docs.rs analogue; stats stay stale until
        # merge squeezes deletes out, exactly like Lucene). A tombstone
        # applies only to docs ADDED at or before the delete (per-doc
        # add-gen <= tombstone.gen — the DocumentsWriterDeleteQueue
        # sequence-number rule, doc-precise across merges via the
        # manifest's gen_ranges), so delete-then-reindex never hides the
        # re-added doc, and a delete racing a merge still hides its
        # victims after the merge commits.
        self._deleted = None
        self._bcast_deleted = True
        tomb_dir = os.path.join(index_dir, "tombstones")
        if storage.is_dir(tomb_dir) and any(
                f.endswith(".parquet") for f in storage.listdir(tomb_dir)):
            # broadcast only while the tombstone set is small; above the
            # cap fall back to a shuffle anti-join (tombstones accumulate
            # unboundedly between merges — a broadcast would not); the
            # count is footer-metadata only, through the storage seam.
            # Cap sizing (RUCENE_TOMB_BCAST_CAP): the cap counts rows,
            # not bytes. Two tables are broadcast at the cap: the
            # resolved (seg, doc) table, ~64 MiB at 4M rows (two int64
            # columns; _tomb_by_seg's driver copy is as large again),
            # and the (key string, gen) tombstone table the resolving
            # join uses, ~(key bytes + ~40) per row as Spark rows plus
            # hash index, so 4M URL-sized keys (~60 B) are ~400 MiB
            # replicated to the driver and every executor. Lower the cap
            # for long keys or small executors. The original 500k cap
            # was the 30M-doc probe's one cliff (BENCH_30M.json: 2%
            # deletes = 600k tombstones tripped the shuffle path,
            # post-merge term query 1.1s → 20.5s warm); above the cap,
            # sustained delete-heavy workloads should merge (which folds
            # tombstones) rather than serve through the anti-join
            # forever.
            n_tomb = sum(
                storage.parquet_num_rows(os.path.join(tomb_dir, f))
                for f in storage.listdir(tomb_dir) if f.endswith(".parquet"))
            self._bcast_deleted = n_tomb <= int(
                os.environ.get("RUCENE_TOMB_BCAST_CAP", "4000000"))
            tomb = spark.read.parquet(tomb_dir)
            if "gen" not in tomb.columns:
                tomb = tomb.withColumn("gen", F.lit(1 << 62))
            tomb = tomb.select(F.col("key").alias("_tk"),
                               F.col("gen").alias("_tg")).distinct()
            if self._bcast_deleted:
                tomb = F.broadcast(tomb)
            # per-doc add-gen scope (merge.gen_scope_expr): merged
            # segments carry gen_ranges, so a delete issued while a
            # merge was in flight still hides its victims afterwards
            from .merge import gen_scope_expr
            self._deleted = self._docmeta.join(
                tomb,
                (F.col(self.key_col).cast("string") == F.col("_tk"))
                & (gen_scope_expr(m["segments"]) <= F.col("_tg")),
            ).select("seg", "doc")
        self._score_t = "float" if scoring == "lucene" else "double"
        self._score_schema = _SCORE_SCHEMA if scoring == "lucene" else _SCORE_SCHEMA64
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
        far outnumber cores. The collector kernels reduce per SEGMENT
        inside the worker (np.unique(seg) loop), so their only layout
        invariant is that a segment's rows stay wholly inside one
        partition — coalesce() unions WHOLE input partitions with no
        shuffle and no file splits, preserving it. Without this, a
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
        when the index has no channel / the env kill-switch is set."""
        if (self._bigram_cfg is None
                or os.environ.get("RUCENE_PHRASE_BIGRAMS", "1") == "0"):
            return None
        if self._bigram_vocab is None:
            from .build import load_bigram_vocab
            self._bigram_vocab = load_bigram_vocab(
                self.index_dir, {"bigrams": self._bigram_cfg}) or {}
        return self._bigram_vocab.get(field)

    def _tomb_by_seg(self) -> dict[int, np.ndarray]:
        """Resolved tombstones as per-segment sorted doc-id arrays, for the
        collector kernel's in-worker live-docs mask.  Only called when the
        broadcast gate held (RUCENE_TOMB_BCAST_CAP, default 4M
        tombstones), so the driver materializes at most that many
        (seg, doc) pairs — the same bound the broadcast anti-join
        already implies."""
        if self._deleted is None:
            return {}
        if self._tomb_cache is None:
            # Arrow-batched transfer: at the 4M-row cap a py4j
            # row-at-a-time collect costs tens of seconds; toArrow moves
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
                int(chunk_segs[0]): np.unique(chunk_docs)
                for chunk_segs, chunk_docs in zip(
                    np.split(segs, bounds), np.split(docs, bounds))
                if chunk_segs.size}
        return self._tomb_cache

    def warmup(self) -> "IndexSearcher":
        """Absorb the session's first-query fixed costs before serving
        traffic: spawn the Python worker pool on every scan slot, read
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
        def fn(it):
            n = 0
            for b in it:
                n += len(b)
            yield pd.DataFrame({"n": [n]})

        self._coalesced(self._postings.select("seg")).mapInPandas(
            fn, "n long").collect()
        self._term_stats.select("term").limit(1).collect()
        if self._bcast_deleted:
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
        """Skip deleted docs (BulkScorer's live_docs check, bulk_scorer.rs).
        Broadcast only below the tombstone cap; large delete sets anti-join
        by shuffle instead of flooding every executor."""
        if self._deleted is None:
            return frame
        deleted = (F.broadcast(self._deleted) if self._bcast_deleted
                   else self._deleted)
        return frame.join(deleted, ["seg", "doc"], "left_anti")

    _PLAN_CACHE_MAX = 1024

    def search(self, query: Query, k: int = 10) -> DataFrame:
        """Top-k by (score desc, seg asc, doc asc) joined back to doc keys.

        The planned DataFrame is memoized per (query value, k): Catalyst
        analysis/optimization is a fixed DRIVER cost that does not shrink
        with executor count, so a serving tier replaying a query mix
        would otherwise pay it per request (it caps throughput-scaling
        efficiency the way any serial fraction does). Unlike the
        reference's LRUQueryCache — a RESULT cache, disabled there
        (searcher.rs:696-701) — this caches only the plan: every call
        still executes the full distributed job, so deletes visible to
        THIS searcher (fixed at construction, like a Lucene point-in-time
        reader) and scores are always freshly computed."""
        ck = (repr(query), k)
        hit = self._plan_cache.get(ck)
        if hit is not None:
            return hit
        frame = self._root_frame(query, k)
        topk = frame.orderBy(F.desc("score"), "seg", "doc").limit(k)
        out = (
            self._docmeta.join(F.broadcast(topk), ["seg", "doc"])
            .orderBy(F.desc("score"), "seg", "doc")
        )
        if len(self._plan_cache) < self._PLAN_CACHE_MAX:
            self._plan_cache[ck] = out
        return out

    def _root_frame(self, query: Query, k: int) -> DataFrame:
        """Live ``(seg, doc, score)`` rows whose (score desc, seg, doc)
        top-k is the query's top-k — the routing shared by search() and
        search_many()'s non-flat queries.

        Every query family with a per-segment kernel (_kernel_frame:
        phrase and span leaves, the term-dismax collector, the flat
        term/boolean collector) runs it with the top-k whenever the
        tombstone broadcast gate holds: tombstones are masked in the
        worker and at most k rows per segment leave it, with no shuffle.
        Above the gate — and for every other shape — the root is the
        live-masked query frame, in which those same kernels run with
        ``k=None`` (_frame_impl)."""
        if self._deleted is None or self._bcast_deleted:
            frame = self._kernel_frame(query, np.float32(1.0), k)
            if frame is not None:
                return frame
        return self._live(self._frame(query, np.float32(1.0), True))

    def _kernel_frame(self, q: Query, boost: np.float32,
                      k: int | None) -> DataFrame | None:
        """``(seg, doc, score)`` rows of a query from its per-segment
        kernel — phrase leaf, span leaf, term-dismax collector or flat
        term/boolean collector — or None for every other shape. With
        ``k`` tombstones are masked in the worker and each segment emits
        its top-k; with ``k=None`` every matching row is emitted and the
        caller live-masks."""
        q, boost = self._fold_boost(q, boost)
        if isinstance(q, PhraseQuery):
            return self._phrase_leaf(q, boost, k)
        if isinstance(q, _SpanQueryT):
            return self._span_leaf(q, boost, k)
        if isinstance(q, DisjunctionMaxQuery):
            ds = [self._fold_boost(d, boost)[0] for d in q.disjuncts]
            if (all(isinstance(d, TermQuery) for d in ds)
                    and len({(d.field, d.term) for d in ds}) == len(ds)):
                return self._dismax_collector_topk(q, boost, k)
            return None
        fs = self._flat_specs(q, [0], boost)
        if fs is None:
            return None
        return self._collector_topk_frame({0: fs}, k).select(
            "seg", "doc", "score")

    @staticmethod
    def _fold_boost(q: Query, boost: np.float32):
        while isinstance(q, BoostQuery):
            boost = np.float32(boost * np.float32(q.boost))
            q = q.query
        return q, boost

    def _flat_specs(self, q: Query, gid_counter: list,
                    boost: np.float32 = np.float32(1.0)):
        """Flatten a term/boolean query (ONE level of nested boolean
        groups allowed) into term-collector clause specs
        ``(field, term, gid, role, boost, scored)``: ``gid`` is 0 for
        root clauses, else the nested group's batch-unique number drawn
        from ``gid_counter``; ``role`` is the clause's _ROLE_CODE in its
        parent. Returns ``(specs, (root_nm, root_nf, root_msm), groups)``
        with ``groups[gid] = (parent_role, nm, nf, msm)``, or None if the
        shape needs its own frame (phrase/span/dismax/deeper nesting).
        Mirrors ``_boolean_frame``'s add() boost/role handling exactly so
        scores stay bit-identical to the boolean frame."""
        q, boost = self._fold_boost(q, boost)
        if isinstance(q, TermQuery):
            eff = float(np.float32(boost * np.float32(q.boost)))
            return ([(q.field, q.term, 0, _ROLE_CODE["s"], eff, True)],
                    (0, 0, 0), {})
        if not isinstance(q, BooleanQuery):
            return None
        specs: list[tuple] = []
        groups: dict[int, tuple] = {}
        clauses = [(q.musts, "m", True), (q.shoulds, "s", True),
                   (q.filters, "f", False), (q.must_nots, "n", False)]
        for subs, role, scored in clauses:
            for sub in subs:
                sub, sub_boost = self._fold_boost(
                    sub, boost if scored else np.float32(1.0))
                if isinstance(sub, TermQuery):
                    eff = (float(np.float32(sub_boost
                                            * np.float32(sub.boost)))
                           if scored else 1.0)
                    specs.append((sub.field, sub.term, 0, _ROLE_CODE[role],
                                  eff, scored))
                    continue
                if not isinstance(sub, BooleanQuery):
                    return None
                inner = [(sub.musts, "m", True), (sub.shoulds, "s", True),
                         (sub.filters, "f", False),
                         (sub.must_nots, "n", False)]
                flat_members = []
                for isubs, irole, iscored in inner:
                    for m in isubs:
                        m, m_boost = self._fold_boost(
                            m, sub_boost if (scored and iscored)
                            else np.float32(1.0))
                        if not isinstance(m, TermQuery):
                            return None
                        eff = (float(np.float32(m_boost
                                                * np.float32(m.boost)))
                               if (scored and iscored) else 1.0)
                        flat_members.append((m, irole, eff,
                                             scored and iscored))
                gid_counter[0] += 1
                gid = gid_counter[0]
                for m, irole, eff, isc in flat_members:
                    specs.append((m.field, m.term, gid, _ROLE_CODE[irole],
                                  eff, isc))
                groups[gid] = (_ROLE_CODE[role], len(sub.musts),
                               len(sub.filters), sub.min_should_match)
        return (specs, (len(q.musts), len(q.filters),
                        q.min_should_match), groups)

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
        serial floor again. Instead every term/boolean query in the
        batch is flattened into ONE shared clause table
        (``_flat_specs``) and executed by the per-segment term collector
        a single term/boolean query uses (``_collector_topk_frame``):
        one term-pruned scan, and inside each scan task the decode,
        scoring and each query's must/filter/not/msm arithmetic (one
        level of nested boolean groups folds in as virtual root
        clauses), with no shuffle. Under the tombstone broadcast gate
        the worker masks tombstones and keeps the per-(query, segment)
        top-k; above it the collector emits every satisfied row and the
        shuffle anti-join (``_live``) removes deleted docs. A per-query
        window then keeps each query's top-k. Queries the flattener
        rejects (phrase/span/dismax/deeper nesting) keep their own
        rank-identical TakeOrdered branch (``_root_frame``) and union
        in. Stage count is constant in batch size; rank/score identity
        vs per-query search() is asserted by tests/test_search_many.py."""
        ck = (tuple(repr(q) for q in queries), k, "many")
        hit = self._plan_cache.get(ck)
        if hit is not None:
            return hit
        flat: dict[int, tuple] = {}
        others: list[int] = []
        gid_counter = [0]
        for i, q in enumerate(queries):
            fs = self._flat_specs(q, gid_counter)
            if fs is not None:
                flat[i] = fs
            else:
                others.append(i)

        branches = []
        if flat:
            if self._deleted is None or self._bcast_deleted:
                coll = self._collector_topk_frame(flat, k)
            else:
                coll = self._live(self._collector_topk_frame(flat, None))
            w = Window.partitionBy("_q").orderBy(
                F.desc("score"), "seg", "doc")
            branches.append(
                coll.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= k).drop("_rn")
                .select(F.col("_q").alias("qid"), "seg", "doc", "score"))
        for i in others:
            frame = self._root_frame(queries[i], k)
            branches.append(
                frame.orderBy(F.desc("score"), "seg", "doc").limit(k)
                .select(F.lit(i).alias("qid"), "seg", "doc", "score"))
        topk = reduce(DataFrame.unionByName, branches)
        out = (
            self._docmeta.join(F.broadcast(topk), ["seg", "doc"])
            .orderBy("qid", F.desc("score"), "seg", "doc")
        )
        if len(self._plan_cache) < self._PLAN_CACHE_MAX:
            self._plan_cache[ck] = out
        return out

    def _collector_topk_frame(self, flat: dict, k: int | None) -> DataFrame:
        """Per-SEGMENT term/boolean collector for flattened queries
        (``flat[qid] = _flat_specs(...)``) — the reference's per-segment
        search loop (searcher.rs drives one collector per LeafReader,
        then merges) re-expressed as one mapInPandas pass with NO
        shuffle.

        A doc's postings live entirely inside its segment, and the scan is
        partitioned one-segment-per-file (searcher __init__ pins
        maxPartitionBytes/openCostInBytes), so every (query, doc) boolean
        reduction — clause sums, must/filter/not counts, msm, one-level
        group folds — is segment-LOCAL.  With ``k`` the worker masks the
        segment's tombstones (per-seg sorted arrays, built only under the
        RUCENE_TOMB_BCAST_CAP broadcast gate) BEFORE ranks are assigned
        and folds its partition down to k rows per (query, segment), so
        only (n_queries × n_segments × k) rows leave the executors.  The
        final (score desc, seg asc, doc asc) order restricted to one
        segment is the segment's own order, so the global top-k is a
        subset of the union of per-segment top-k's.  With ``k=None``
        (nested clauses, count(), delete-by-query, roots above the
        broadcast gate) no tombstones are passed and every satisfied
        ``(query, seg, doc)`` row is emitted for the caller to live-mask.
        Per-posting scores come from the shared term kernel
        (_term_scores) and stage sums run in scan order via stable
        lexsort, so scores stay bit-identical to the boolean frame and
        the oracle. Output: ``_q int, seg, doc, score``."""
        # clause table ordered by (field, term) key, so a scan row of a
        # key expands to a contiguous run of clause numbers
        by_key: dict[tuple[str, str], list] = {}
        for qid, (specs, _, _) in flat.items():
            for f_, t, gid, role, boost, scored in specs:
                by_key.setdefault((f_, t), []).append(
                    (qid, gid, role, boost, scored))
        keys = list(by_key)
        kid_of = {key: i for i, key in enumerate(keys)}
        cl_counts = np.asarray([len(by_key[key]) for key in keys],
                               dtype=np.int64)
        cl_starts = np.cumsum(cl_counts) - cl_counts
        cl = [(key, c) for key in keys for c in by_key[key]]
        tw = self._term_weight_table(
            [(f_, t, c[3]) for (f_, t), c in cl], self._stats_for(keys))
        qid_cat = np.asarray([c[0] for _, c in cl], dtype=np.int32)
        gid_cat = np.asarray([c[1] for _, c in cl], dtype=np.int32)
        role_cat = np.asarray([c[2] for _, c in cl], dtype=np.int8)
        scored_cat = np.asarray([c[4] for _, c in cl], dtype=bool)
        all_scored = bool(scored_cat.all())

        # group metadata indexed by gid (0 = root, unused slot)
        groups = {gid: g for _, _, gs in flat.values()
                  for gid, g in gs.items()}
        n_g = max(groups, default=0)
        g_role = np.zeros(n_g + 1, dtype=np.int8)
        g_nm = np.zeros(n_g + 1, dtype=np.int64)
        g_nf = np.zeros(n_g + 1, dtype=np.int64)
        g_ms = np.zeros(n_g + 1, dtype=np.int64)
        for gid, (prole, nm_, nf_, ms_) in groups.items():
            g_role[gid], g_nm[gid], g_nf[gid], g_ms[gid] = (
                prole, nm_, nf_, ms_)
        # per-query root requirements indexed by qid
        n_q = max(flat) + 1
        r_nm = np.zeros(n_q, dtype=np.int64)
        r_nf = np.zeros(n_q, dtype=np.int64)
        r_ms = np.zeros(n_q, dtype=np.int64)
        for i, (_specs, (nm_, nf_, ms_), _groups) in flat.items():
            r_nm[i], r_nf[i], r_ms[i] = nm_, nf_, ms_

        lucene = tw[0]
        ftype = np.float32 if lucene else np.float64
        tomb = self._tomb_by_seg() if k is not None else {}

        def fn(batches):
            # streamed per segment (see _iter_seg_chunks): decode,
            # expand, reduce and emit one segment at a time, so worker
            # memory is bounded by one segment's scan rows however many
            # segments _coalesced packs into this task
            for s, pdf in _iter_seg_chunks(batches):
                n_rows = len(pdf)
                counts, docs, tfs, aux = _decode_term_rows(pdf, lucene)
                row_kid = np.fromiter(
                    (kid_of[(f_, t)] for f_, t
                     in zip(pdf["field"].tolist(), pdf["term"].tolist())),
                    dtype=np.int64, count=n_rows)
                idx, ce = _expand_clauses(row_kid, counts, cl_counts,
                                          cl_starts)
                sc = _term_scores(ce, tfs[idx], aux[idx], tw).astype(ftype)
                if not all_scored:
                    sc[~scored_cat[ce]] = 0
                q3, d3, s3 = _collector_seg_reduce(
                    docs[idx], qid_cat[ce], gid_cat[ce], role_cat[ce],
                    sc, g_role, g_nm, g_nf, g_ms,
                    r_nm, r_nf, r_ms, tomb.get(int(s)), lucene, ftype, k)
                if len(q3) == 0:
                    continue
                yield pd.DataFrame({
                    "_q": q3,
                    "seg": np.full(len(q3), s, dtype=np.int32),
                    "doc": d3,
                    "score": s3,
                })

        scan = self._postings.filter(self._terms_cond(keys)).select(
            "field", "term", "seg", "num_docs", "docs_bin", "tfs_bin",
            "norms_bin", "dls_bin")
        return self._coalesced(scan).mapInPandas(
            fn, f"_q int, seg int, doc long, score {self._score_t}")

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
        import os as _os
        import uuid as _uuid

        from pyspark import InheritableThread

        pinned = _os.environ.get(
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
        # count fast paths apply only without deletes (searcher.rs:632-654)
        if self._deleted is None:
            if isinstance(query, MatchAllDocsQuery):
                return self.doc_count
            if isinstance(query, TermQuery):
                self._check_field(query.field)
                stats = self._stats_for([(query.field, query.term)])
                row = stats.get((query.field, query.term))
                return int(row["df"]) if row else 0
        elif self._bcast_deleted:
            # tombstone-aware fast paths: Lucene's live count per leaf is
            # maxDoc - numDeletedDocs — a metadata fold, not a row export
            if isinstance(query, MatchAllDocsQuery):
                tomb = self._tomb_by_seg()
                return self.doc_count - sum(len(v) for v in tomb.values())
            if isinstance(query, TermQuery):
                self._check_field(query.field)
                return self._term_count_live(query)
        return self._live(
            self._frame(query, np.float32(1.0), needs_scores=False)).count()

    def _term_count_live(self, q: TermQuery) -> int:
        """TermQuery count under deletes as a per-segment fold — the
        tombstone-aware analogue of the df fast path. The exhaustive
        route (`_live(_frame(...)).count()`) materializes every matching
        (seg, doc) row out of the scan workers just to anti-join away
        ≤cap tombstones (measured 5.2s warm at 10M docs / 293 segments).
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
        out = (
            self._docmeta.join(F.broadcast(combined.orderBy(
                F.desc("score"), "seg", "doc").limit(k)), ["seg", "doc"])
            .orderBy(F.desc("score"), "seg", "doc")
        )
        return out

    def search_blockmax(self, terms: list[str], k: int = 10,
                        boosts: list[float] | None = None,
                        field: str | None = None) -> DataFrame:
        """Block-max pruned top-k for a should-sum disjunction of distinct
        ``terms`` — the MaxScore/BMW hybrid the north rule adds over the
        reference (SURVEY.md §4.3: rucene stores skip pointers,
        skip_writer.rs:36-56, but no impact bounds and no WAND operator).

        Under the tombstone broadcast gate it runs the per-segment BMW
        collector (_blockmax_collector_topk / _bmw_seg_topk). Above the
        gate the kernel cannot mask tombstones before it takes θ, so it
        could not prune safely: the exhaustive disjunction runs instead,
        which gives the same answer. Duplicate terms, or ``boosts`` of
        another length than ``terms``, raise ValueError.
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
        if self._deleted is None or self._bcast_deleted:
            return self._blockmax_collector_topk(infos, field, stats, k)
        return self.search(BooleanQuery.build(
            [], [TermQuery(field, t, b) for t, b in infos], [], []), k)

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
            return _bmw_seg_topk(sub, tomb, *bmw)

        frame = self._leaf_scan(
            [(F.col("field") == field) & F.col("term").isin(terms)],
            seg_fn, k, _BMW_SCAN_COLS)
        topk = frame.orderBy(F.desc("score"), "seg", "doc").limit(k)
        return (
            self._docmeta.join(F.broadcast(topk), ["seg", "doc"])
            .orderBy(F.desc("score"), "seg", "doc")
        )

    def _dismax_collector_topk(self, q: "DisjunctionMaxQuery",
                               boost: np.float32,
                               k: int | None) -> DataFrame:
        """Zero-shuffle DisjunctionMax frame — the per-segment collector
        kernel specialized to the dismax fold (dis_max.rs: score =
        max(disjuncts) + tie_breaker * Σ(others)). One scan pass over
        the disjunct terms' postings; per segment the worker decodes,
        scores each disjunct with the shared term kernel
        (_term_scores) and reduces max/sum per doc with reduceat. With
        ``k`` it masks tombstones and emits ≤k rows per segment; with
        ``k=None`` it emits every matching doc for the caller to
        live-mask. Requires term disjuncts (after boost folding) with
        unique (field, term); scores are the per-term float32 kernel,
        float64 fold, cast to the score type."""
        specs = []
        for d in q.disjuncts:
            d, db = self._fold_boost(d, boost)
            specs.append((d.field, d.term,
                          float(np.float32(db * np.float32(d.boost)))))
        keys = [(f_, t) for f_, t, _ in specs]
        tw = self._term_weight_table(specs, self._stats_for(keys))
        ci_of = {key: i for i, key in enumerate(keys)}
        lucene = tw[0]
        ftype = np.float32 if lucene else np.float64
        tie = float(q.tie_breaker)
        tomb = self._tomb_by_seg() if k is not None else {}

        def fn(batches):
            # streamed per segment (see _iter_seg_chunks): bounded memory
            for s, sub in _iter_seg_chunks(batches):
                counts, d_s, tfs, aux = _decode_term_rows(sub, lucene)
                ci_row = np.fromiter(
                    (ci_of[(f_, t)] for f_, t
                     in zip(sub["field"], sub["term"])),
                    dtype=np.int64, count=len(sub))
                v_s = _term_scores(np.repeat(ci_row, counts), tfs, aux, tw)
                o = np.argsort(d_s, kind="stable")
                d_s, v_s = d_s[o], v_s[o]
                if len(d_s) == 0:
                    continue
                nb = np.empty(len(d_s), dtype=bool)
                nb[0] = True
                nb[1:] = d_s[1:] != d_s[:-1]
                starts = np.flatnonzero(nb)
                du = d_s[starts]
                mx = np.maximum.reduceat(v_s, starts)
                sm = np.add.reduceat(v_s, starts)
                score = (mx + tie * (sm - mx)).astype(ftype)
                live = ~_dead_mask(tomb.get(int(s)), du)
                du, score = du[live], score[live]
                if len(du) == 0:
                    continue
                if k is not None:
                    top = np.lexsort((du, -score))[:k]
                    du, score = du[top], score[top]
                yield pd.DataFrame({
                    "seg": np.full(len(du), s, dtype=np.int32),
                    "doc": du,
                    "score": score,
                })

        scan = self._postings.filter(self._terms_cond(keys)).select(
            "field", "term", "seg", "num_docs", "docs_bin", "tfs_bin",
            "norms_bin", "dls_bin")
        return self._coalesced(scan).mapInPandas(fn, self._score_schema)

    # ------------------------------------------------------------------
    # explain
    # ------------------------------------------------------------------

    def explain(self, query: Query, seg: int, doc: int) -> dict:
        """Structured score breakdown for one (seg, doc) — the reference's
        ``Explanation`` tree (bm25_similarity.rs:265-361, explanation.rs):
        nested ``{value, description, details}`` dicts, float32 faithful in
        "lucene" mode."""
        if isinstance(query, TermQuery):
            return self._explain_term(query, np.float32(1.0), seg, doc)
        if isinstance(query, BoostQuery):
            if isinstance(query.query, TermQuery):
                return self._explain_term(
                    query.query, np.float32(query.boost), seg, doc)
            if isinstance(query.query, PhraseQuery):
                return self._explain_phrase(
                    query.query, np.float32(query.boost), seg, doc)
            from .query import SpanQuery as _SpanQuery
            if isinstance(query.query, _SpanQuery):
                return self._explain_span(
                    query.query, np.float32(query.boost), seg, doc)
            inner = self.explain(query.query, seg, doc)
            inner["value"] = float(
                np.float32(inner["value"] * np.float32(query.boost)))
            return inner
        if isinstance(query, BooleanQuery):
            # BooleanWeight::explain semantics: a failed must/filter, a
            # matching must_not, or unmet min_should_match all make the doc
            # a NON-match, even if other clauses would contribute score.
            details = []
            for sub in query.musts:
                e = self.explain(sub, seg, doc)
                details.append(e)
                if not e["match"]:
                    return {
                        "match": False, "value": 0.0,
                        "description": "Failure to meet condition of"
                                       " required clause",
                        "details": details,
                    }
            matched_shoulds = []
            for sub in query.shoulds:
                e = self.explain(sub, seg, doc)
                if e["match"]:
                    details.append(e)
                    matched_shoulds.append(e)
            if len(matched_shoulds) < query.min_should_match:
                return {
                    "match": False, "value": 0.0,
                    "description": f"Failure to match minimum number of"
                                   f" optional clauses:"
                                   f" {query.min_should_match}",
                    "details": details,
                }
            for sub in query.filters:
                if not self._matches_doc(sub, seg, doc):
                    return {
                        "match": False, "value": 0.0,
                        "description": "Failure to meet condition of"
                                       " filter clause",
                        "details": details,
                    }
            for sub in query.must_nots:
                if self._matches_doc(sub, seg, doc):
                    return {
                        "match": False, "value": 0.0,
                        "description": "Failure to meet condition of"
                                       " prohibited clause",
                        "details": details,
                    }
            if not details:
                return {"match": False, "value": 0.0,
                        "description": "no matching clauses", "details": []}
            value = float(np.float32(np.float64(
                sum(d["value"] for d in details))))
            return {
                "match": True,
                "value": value,
                "description": "sum of:",
                "details": details,
            }
        if isinstance(query, PhraseQuery):
            return self._explain_phrase(query, np.float32(1.0), seg, doc)
        from .query import SpanQuery as _SpanQuery
        if isinstance(query, _SpanQuery):
            return self._explain_span(query, np.float32(1.0), seg, doc)
        if isinstance(query, DisjunctionMaxQuery):
            # DisjunctionMaxWeight::explain (dis_max.rs): max of the
            # matching sub-explanations, plus tie_breaker × the others;
            # the combine arithmetic mirrors the frame's Spark agg
            # (f32 max, f64 sum, f64 combine, f32 cast)
            details = [self.explain(d, seg, doc) for d in query.disjuncts]
            matched = [e for e in details if e["match"]]
            if not matched:
                return {"match": False, "value": 0.0,
                        "description": "No matching clause",
                        "details": details}
            mx = max(np.float32(e["value"]) for e in matched)
            s64 = float(sum(np.float64(np.float32(e["value"]))
                            for e in matched))
            tie = float(query.tie_breaker)
            value = float(np.float32(np.float64(mx)
                                     + tie * (s64 - np.float64(mx))))
            desc = ("max of:" if tie == 0.0
                    else f"max plus {tie} times others of:")
            return {"match": True, "value": value, "description": desc,
                    "details": matched}
        # generic fallback: evaluate the query's frame at this one doc
        row = (
            self._frame(query, np.float32(1.0), needs_scores=True)
            .filter((F.col("seg") == seg) & (F.col("doc") == doc))
            .limit(1).collect()
        )
        if row:
            return {"match": True, "value": float(row[0]["score"]),
                    "description": f"{type(query).__name__}, score:",
                    "details": []}
        return {"match": False, "value": 0.0,
                "description": f"no match ({type(query).__name__})",
                "details": []}

    def _matches_doc(self, q: Query, seg: int, doc: int) -> bool:
        """Does ``q`` match one specific (seg, doc)? Explain-path helper."""
        f = self._frame(q, np.float32(1.0), needs_scores=False)
        return bool(
            f.filter((F.col("seg") == seg) & (F.col("doc") == doc))
            .limit(1).count())

    def _explain_term(self, q: TermQuery, boost: np.float32,
                      seg: int, doc: int) -> dict:
        from .smallfloat import NORM_TABLE

        self._check_field(q.field)
        stats = self._stats_for([(q.field, q.term)])
        row = stats.get((q.field, q.term))
        df_ = int(row["df"]) if row else 0
        hit = None
        if df_:
            blocks = self._postings.filter(
                (F.col("field") == q.field)
                & (F.col("term") == q.term) & (F.col("seg") == seg)
                & (F.col("first_doc") <= doc) & (F.col("last_doc") >= doc)
            ).collect()
            for b in blocks:
                d = delta_decode(unpack_ints(b["docs_bin"], b["num_docs"]))
                idx = np.flatnonzero(d == doc)
                if idx.size:
                    tfs = unpack_ints(b["tfs_bin"], b["num_docs"])
                    nbs = unpack_ints(b["norms_bin"], b["num_docs"])
                    hit = (int(tfs[idx[0]]), int(nbs[idx[0]]))
                    break
        if hit is None:
            return {"match": False, "value": 0.0,
                    "description": f"no matching term term={q.term}",
                    "details": []}
        freq, nb = hit
        cache = self.cache_f[q.field]
        k1_, b_ = self.sim_f[q.field]
        k1f = np.float32(k1_)
        total_boost = np.float32(boost * np.float32(q.boost))
        idf = idf32(df_, self.doc_count)
        field_len = float(NORM_TABLE[nb])
        tf_norm = np.float32(
            (np.float32(freq) * (k1f + np.float32(1.0)))
            / (np.float32(freq) + cache[nb]))
        value = float(np.float32(np.float32(idf * total_boost)
                                 * (k1f + np.float32(1.0)) * np.float32(freq)
                                 / (np.float32(freq) + cache[nb])))
        return {
            "match": True,
            "value": value,
            "description": f"score(doc={doc},freq={freq}), product of:",
            "details": [
                {"value": float(idf),
                 "description": "idf, computed as log(1 + (docCount - docFreq"
                                " + 0.5) / (docFreq + 0.5)) from:",
                 "details": [
                     {"value": float(df_), "description": "docFreq", "details": []},
                     {"value": float(self.doc_count), "description": "docCount",
                      "details": []},
                 ]},
                {"value": float(tf_norm),
                 "description": "tfNorm, computed as (freq * (k1 + 1)) / (freq"
                                " + k1 * (1 - b + b * fieldLength /"
                                " avgFieldLength)) from:",
                 "details": [
                     {"value": float(freq), "description": "termFreq", "details": []},
                     {"value": float(k1_), "description": "parameter k1", "details": []},
                     {"value": float(b_), "description": "parameter b", "details": []},
                     {"value": float(self.avgdl_f[q.field]),
                      "description": "avgFieldLength", "details": []},
                     {"value": field_len, "description": "fieldLength",
                      "details": []},
                 ]},
            ],
        }

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

    def _doc_positions(self, field: str, uniq_terms: list[str],
                       ti_of: dict, seg: int, doc: int):
        """Per-term positions of one (seg, doc) plus its (norm_byte, dl) —
        one pushed postings scan of the blocks whose doc range holds the
        doc, decoded in this process; explain-path helper."""
        blocks = self._postings.filter(
            (F.col("field") == field) & F.col("term").isin(uniq_terms)
            & (F.col("seg") == seg)
            & (F.col("first_doc") <= doc) & (F.col("last_doc") >= doc)
        ).select("term", "num_docs", "docs_bin", "tfs_bin", "norms_bin",
                 "dls_bin", "pos_bin").collect()
        pos_map, nb, dl = {}, 0, 0
        for b in blocks:
            n = b["num_docs"]
            idx = np.flatnonzero(
                delta_decode(unpack_ints(b["docs_bin"], n)) == doc)
            if not idx.size:
                continue
            i = int(idx[0])
            tfs = unpack_ints(b["tfs_bin"], n).astype(np.int64)
            flat, _ = batch_unpack_positions([b["pos_bin"]], tfs)
            lo = int(tfs[:i].sum())
            pos_map[ti_of[b["term"]]] = flat[lo:lo + tfs[i]].astype(np.int64)
            nb = int(unpack_ints(b["norms_bin"], n)[i])
            dl = int(unpack_ints(b["dls_bin"], n)[i])
        return pos_map, nb, dl

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

    def _explain_positional(self, field: str, idf_terms: list[str],
                            freq: float, nb: int, dl: int,
                            boost: np.float32, doc: int, what: str,
                            stats: dict) -> dict:
        """Shared BM25 Explanation tree for freq-bearing positional queries
        (phrase/span) — the value is the leaf kernels' own _freq_scores
        (f32 path in "lucene" mode, f64 otherwise),
        bm25_similarity.rs:265-361."""
        from .smallfloat import NORM_TABLE

        _, _, idf_detail = self._idf_sum_detail(field, idf_terms, stats)
        wk32, coef64 = self._positional_weight(field, idf_terms, boost,
                                               stats)
        k1_, b_ = self.sim_f[field]
        cache = self.cache_f[field]
        value = float(_freq_scores(
            np.asarray([freq]), np.asarray([nb]), np.asarray([dl]),
            self.scoring == "lucene", wk32, cache, coef64, k1_, b_,
            self.avgdl64_f[field])[0])
        if self.scoring == "lucene":
            tff = np.float32(freq)
            tf_norm = float((tff * (np.float32(k1_) + np.float32(1.0)))
                            / (tff + cache[nb]))
            field_len = float(NORM_TABLE[nb])
        else:
            denom = freq + k1_ * ((1.0 - b_) + b_ * dl
                                  / self.avgdl64_f[field])
            tf_norm = float(freq * (k1_ + 1.0) / denom)
            field_len = float(dl)
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
                     {"value": float(freq), "description": "phraseFreq"
                      if what.startswith("phrase") else "spanFreq",
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
        same freq `_phrase_leaf` verifies), idf summed over terms in
        phrase order."""
        self._check_field(q.field)
        self._check_positions(q.field)
        stats = self._stats_for([(q.field, t) for t in q.terms])
        if any((q.field, t) not in stats for t in q.terms):
            return {"match": False, "value": 0.0,
                    "description": "no matching term", "details": []}
        uniq_terms = sorted(set(q.terms))
        ti_of = {t: i for i, t in enumerate(uniq_terms)}
        pos_map, nb, dl = self._doc_positions(
            q.field, uniq_terms, ti_of, seg, doc)
        if len(pos_map) < len(uniq_terms):
            return {"match": False, "value": 0.0,
                    "description": "no matching term", "details": []}
        pls = [pos_map[ti_of[t]] for t in q.terms]
        if q.slop == 0:
            freq = float(exact_phrase_freq(pls, list(q.positions)))
        else:
            freq = float(sloppy_phrase_freq(
                pls, list(q.positions), list(q.terms), q.slop))
        if freq <= 0:
            return {"match": False, "value": 0.0,
                    "description": f"no matching phrase occurrence"
                                   f" (slop={q.slop})", "details": []}
        return self._explain_positional(
            q.field, list(q.terms), freq, nb, dl, boost, doc,
            "phrase " + " ".join(q.terms), stats)

    def _explain_span(self, q, boost: np.float32, seg: int,
                      doc: int) -> dict:
        """SpanWeight::explain — freq = f32 Σ 1/(1+width) over the span
        kernel's emitted spans, identical to `_span_leaf`."""
        from .query import SpanBoostQuery, span_spec, span_terms
        from .spans import span_freq

        while isinstance(q, SpanBoostQuery):
            boost = np.float32(boost * np.float32(q.boost))
            q = q.query
        field = q.field
        self._check_field(field)
        self._check_positions(field)
        terms = span_terms(q)
        stats = self._stats_for([(field, t) for t in terms])
        uniq_terms = sorted(set(terms))
        ti_of = {t: i for i, t in enumerate(uniq_terms)}
        spec = span_spec(q, ti_of)
        pos_map, nb, dl = self._doc_positions(
            field, uniq_terms, ti_of, seg, doc)
        freq = float(span_freq(spec, pos_map)) if pos_map else 0.0
        if freq <= 0:
            return {"match": False, "value": 0.0,
                    "description": "no matching spans", "details": []}
        return self._explain_positional(
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
            self._check_field(q.field)
            return [(q.field, q.term)]
        if isinstance(q, PhraseQuery):
            self._check_field(q.field)
            return [(q.field, t) for t in q.terms]
        from .query import SpanQuery as _SpanQuery, span_terms
        if isinstance(q, _SpanQuery):
            self._check_field(q.field)
            return [(q.field, t) for t in span_terms(q)]
        if isinstance(q, BooleanQuery):
            subs = q.musts + q.shoulds + q.filters + q.must_nots
        elif isinstance(q, (BoostQuery, ConstantScoreQuery, FilterQuery,
                            MinScoreQuery)):
            subs = [q.query]
        elif isinstance(q, DisjunctionMaxQuery):
            subs = q.disjuncts
        elif isinstance(q, BoostingQuery):
            subs = [q.positive, q.negative]
        else:
            return []
        return [t for s in subs for t in self._collect_terms(s)]

    # ------------------------------------------------------------------
    # planning: query tree → (seg, doc, score) frame
    # ------------------------------------------------------------------

    def _frame(self, q: Query, boost: np.float32, needs_scores: bool,
               stats: dict | None = None) -> DataFrame:
        if not needs_scores and self._query_cache is not None:
            cached = self._cached_filter_frame(q, boost, stats)
            if cached is not None:
                return cached
        return self._frame_impl(q, boost, needs_scores, stats)

    def _cached_filter_frame(self, q: Query, boost: np.float32,
                             stats: dict | None) -> DataFrame | None:
        """CachingWrapperWeight::create_scorer protocol
        (query_cache.rs:416-456), step for step: policy.on_use, index
        size eligibility (:424-428 — the leaf min_size test, applied to
        the whole index since our cache unit is the generation-keyed
        persisted frame, cache.py module docstring), cache lookup
        (:430-443, hit = constant-score set), then policy.should_cache
        gating compute-and-store (:445-455).  Returns None to run the
        query uncached.  Only reached with needs_scores=False — the
        QueryCache::do_cache equivalence contract (query_cache.rs:42-54).

        ConstantScore/Boost wrappers are skipped at this level (their
        inner query is consulted on recursion instead) — the policy
        tracks the ACTUAL query type (cache_policy.rs:93,105
        debug-asserts the weight is never CONSTANT).  Plain-term filter
        clauses inside BooleanQuery never reach here at all: they ride
        the boolean's one-scan term kernel (the term collector, or
        _boolean_frame's term_specs), which beats a per-clause cached
        set — the same economics behind the policy's min-frequency 20
        for cheap term filters."""
        from .cache import query_cache_key
        if isinstance(q, (ConstantScoreQuery, BoostQuery)):
            return None
        key = query_cache_key(q)
        if key is None:
            return None
        qc, policy = self._query_cache, self._caching_policy
        policy.on_use(q, key)
        if self.doc_count < qc.min_size:
            return None
        hit = qc.get(self._gen_key, key)
        if hit is None:
            if not policy.should_cache(q, key):
                return None
            frame = self._frame_impl(q, np.float32(1.0), False, stats)
            hit = qc.put(self._gen_key, key, frame.select("seg", "doc"))
        s = float(np.float32(boost))
        return hit.select(
            "seg", "doc", F.lit(s).cast(self._score_t).alias("score"))

    def _frame_impl(self, q: Query, boost: np.float32, needs_scores: bool,
                    stats: dict | None = None) -> DataFrame:
        if isinstance(q, BoostQuery):
            return self._frame(q.query, np.float32(boost * np.float32(q.boost)),
                               needs_scores, stats)
        # term, flattenable boolean, term-dismax, phrase and span shapes:
        # their per-segment kernel emits every matching (seg, doc, score)
        # inside the scan task, with no shuffle
        frame = self._kernel_frame(q, boost, None)
        if frame is not None:
            return frame
        if stats is None:
            stats = self._stats_for(self._collect_terms(q))

        if isinstance(q, ConstantScoreQuery):
            inner = self._frame(q.query, np.float32(1.0), False, stats)
            s = float(np.float32(boost * np.float32(q.boost)))
            return inner.select("seg", "doc",
                                F.lit(s).cast(self._score_t).alias("score"))
        if isinstance(q, MatchAllDocsQuery):
            s = float(np.float32(boost))
            return self._docmeta.select(
                "seg", "doc", F.lit(s).cast(self._score_t).alias("score"))
        if isinstance(q, RangeQuery):
            cond = F.col(q.column).isNotNull()
            if q.lower is not None:
                cond = cond & (F.col(q.column) >= F.lit(q.lower))
            if q.upper is not None:
                cond = cond & (F.col(q.column) <= F.lit(q.upper))
            s = float(np.float32(boost))
            return self._docmeta.filter(cond).select(
                "seg", "doc", F.lit(s).cast(self._score_t).alias("score"))
        from .query import MultiRangeQuery
        if isinstance(q, MultiRangeQuery):
            # multi-dim points (bkd_writer.rs): all dims in ONE scan; each
            # range reaches the Parquet reader as a pushed filter
            cond = F.lit(True)
            for col, lo, hi in q.ranges:
                cond = cond & F.col(col).isNotNull()
                if lo is not None:
                    cond = cond & (F.col(col) >= F.lit(lo))
                if hi is not None:
                    cond = cond & (F.col(col) <= F.lit(hi))
            s = float(np.float32(boost))
            return self._docmeta.filter(cond).select(
                "seg", "doc", F.lit(s).cast(self._score_t).alias("score"))
        if isinstance(q, ExistsQuery):
            s = float(np.float32(boost))
            return self._docmeta.filter(F.col(q.column).isNotNull()).select(
                "seg", "doc", F.lit(s).cast(self._score_t).alias("score"))
        if isinstance(q, FilterQuery):
            # candidate generation first, expensive per-doc predicate after
            # (two-phase iteration, filter_query.rs:28-52)
            inner = self._frame(q.query, boost, needs_scores, stats)
            joined = inner.join(self._docmeta, ["seg", "doc"])
            if callable(q.predicate):
                schema = self._score_schema
                pred = q.predicate

                def fn(batches):
                    for pdf in batches:
                        if len(pdf) == 0:
                            continue
                        mask = np.asarray(pred(pdf), dtype=bool)
                        yield pdf.loc[mask, ["seg", "doc", "score"]]

                return joined.mapInPandas(fn, schema)
            return joined.filter(q.predicate).select("seg", "doc", "score")
        if isinstance(q, MinScoreQuery):
            # min_scorer.rs:69-71 — matches() requires score strictly > min
            inner = self._frame(q.query, boost, True, stats)
            return inner.filter(F.col("score") > F.lit(float(q.min_score)))
        if isinstance(q, BooleanQuery):
            return self._boolean_frame(q, boost, needs_scores, stats)
        if isinstance(q, DisjunctionMaxQuery):
            unioned = reduce(DataFrame.unionByName, [
                self._frame(d, boost, needs_scores, stats)
                for d in q.disjuncts])
            tie = float(q.tie_breaker)
            return (
                unioned.groupBy("seg", "doc")
                .agg(F.max("score").alias("_mx"), F.sum("score").alias("_sum"))
                .select(
                    "seg", "doc",
                    (F.col("_mx") + F.lit(tie) * (F.col("_sum") - F.col("_mx"))
                     ).cast(self._score_t).alias("score"),
                )
            )
        if isinstance(q, BoostingQuery):
            pos = self._frame(q.positive, boost, needs_scores, stats)
            neg = self._frame(q.negative, np.float32(1.0), False, stats)
            nb = float(q.negative_boost)
            return (
                pos.join(neg.select("seg", "doc", F.lit(True).alias("_neg")),
                         ["seg", "doc"], "left")
                .select(
                    "seg", "doc",
                    F.when(F.col("_neg").isNotNull(),
                           (F.col("score") * F.lit(nb)).cast(self._score_t))
                    .otherwise(F.col("score")).alias("score"),
                )
            )
        raise TypeError(f"unsupported query: {type(q)}")

    # -- leaves ---------------------------------------------------------

    def _term_weights(self, field: str, term: str, boost: float, stats: dict):
        """Per-(field, term) scoring constants: (wk32, idf64, boost64).
        ``wk32`` folds the field's k1 (per-field similarity)."""
        row = stats.get((field, term))
        df_ = int(row["df"]) if row else 0
        k1f = np.float32(self.sim_f[field][0])
        w32 = np.float32(idf32(max(df_, 1), self.doc_count) * np.float32(boost))
        wk32 = np.float32(w32 * (k1f + np.float32(1.0)))
        idf_64 = float(np.log(1.0 + (self.doc_count - df_ + 0.5) / (df_ + 0.5)))
        return wk32, idf_64, float(boost)

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
        n = len(clauses)
        wk32 = np.zeros(n, dtype=np.float32)
        cofs = np.zeros(n, dtype=np.int64)
        coef = np.zeros(n, dtype=np.float64)
        k1_a = np.zeros(n, dtype=np.float64)
        b_a = np.zeros(n, dtype=np.float64)
        avg_a = np.zeros(n, dtype=np.float64)
        for i, (f_, t, boost) in enumerate(clauses):
            w32, idf64, b64 = self._term_weights(f_, t, boost, stats)
            k1_, b_ = self.sim_f[f_]
            wk32[i], cofs[i] = w32, off[f_]
            coef[i] = (idf64 * b64) * _kp1_64(k1_)
            k1_a[i], b_a[i], avg_a[i] = k1_, b_, self.avgdl64_f[f_]
        cache = (np.concatenate(caches) if caches
                 else np.zeros(0, dtype=np.float32))
        return (self.scoring == "lucene", wk32, cache, cofs, coef, k1_a,
                b_a, avg_a)

    def _batch_term_frame(self, specs: list[tuple], stats: dict) -> DataFrame:
        """ONE postings scan + ONE Arrow decode stage for the term clauses
        of a boolean that mixes them with other clause kinds.

        ``specs``: (field, term, role, boost) per clause, ``role`` its
        _ROLE_CODE. The reference's per-clause postings iterators share
        one index pass here (conjunction_scorer.rs / disjunction_scorer.rs
        collapse into a single term-pruned columnar scan). Clauses may
        span fields; each scores against its own field's norm cache /
        avgdl. The worker decodes, expands and scores through the term
        collectors' helpers (_decode_term_rows, _expand_clauses,
        _term_scores) and emits ``(seg, doc, score, _ct)``: one row per
        posting and clause, so a (field, term) referenced by several
        clauses emits one row per clause, in clause order. Filter and
        must-not rows carry a score the boolean sum ignores."""
        # clause table ordered by (field, term) key, so a scan row of a
        # key expands to a contiguous run of clause numbers
        by_key: dict[tuple[str, str], list] = {}
        for f_, t, role, boost in specs:
            by_key.setdefault((f_, t), []).append((role, boost))
        kid_of = {key: i for i, key in enumerate(by_key)}
        cl_counts = np.asarray([len(c) for c in by_key.values()],
                               dtype=np.int64)
        cl_starts = np.cumsum(cl_counts) - cl_counts
        cl = [(key, c) for key, cs in by_key.items() for c in cs]
        tw = self._term_weight_table(
            [(f_, t, boost) for (f_, t), (_, boost) in cl], stats)
        roles = np.asarray([role for _, (role, _) in cl], dtype=np.int32)
        lucene = tw[0]
        ftype = np.float32 if lucene else np.float64

        def fn(batches):
            for pdf in batches:
                n_rows = len(pdf)
                if n_rows == 0:
                    continue
                counts, docs, tfs, aux = _decode_term_rows(pdf, lucene)
                row_kid = np.fromiter(
                    (kid_of[(f_, t)] for f_, t
                     in zip(pdf["field"].tolist(), pdf["term"].tolist())),
                    dtype=np.int64, count=n_rows)
                idx, ce = _expand_clauses(row_kid, counts, cl_counts,
                                          cl_starts)
                yield pd.DataFrame({
                    "seg": np.repeat(pdf["seg"].to_numpy(np.int32),
                                     counts)[idx],
                    "doc": docs[idx],
                    "score": _term_scores(ce, tfs[idx], aux[idx],
                                          tw).astype(ftype),
                    "_ct": roles[ce],
                })

        scan = self._postings.filter(self._terms_cond(by_key)).select(
            "field", "term", "seg", "num_docs", "docs_bin", "tfs_bin",
            "norms_bin", "dls_bin")
        return scan.mapInPandas(
            fn, f"seg int, doc long, score {self._score_t}, _ct int")

    def _positional_weight(self, field: str, terms: list[str],
                           boost: np.float32, stats: dict):
        """(f32 wk, f64 coef) of a phrase or span query: idf summed over
        ``terms`` in query order (PhraseWeight / SpanWeight), times the
        boost and (k1 + 1) — the per-query constants of _freq_scores."""
        idf32_total, idf64_total, _ = self._idf_sum_detail(
            field, terms, stats)
        k1_ = self.sim_f[field][0]
        wk32 = np.float32(np.float32(idf32_total * boost)
                          * (np.float32(k1_) + np.float32(1.0)))
        return wk32, (idf64_total * float(boost)) * _kp1_64(k1_)

    def _leaf_scan(self, conds, seg_fn, k: int | None,
                   cols=_LEAF_SCAN_COLS) -> DataFrame:
        """One term-pruned postings scan (``conds`` OR-ed, ``cols``
        read) streamed per segment through ``seg_fn(rows, tomb)`` →
        (docs, scores). With ``k`` the segment's tombstones are passed in
        (root leaves run only under the broadcast gate); nested leaves
        get None and are live-masked by their caller."""
        tomb = self._tomb_by_seg() if k is not None else {}

        def fn(batches):
            # streamed per segment — peak memory is one segment's rows
            # no matter how many segments _coalesced packs in
            for s, sub in _iter_seg_chunks(batches):
                dv, sv = seg_fn(sub, tomb.get(int(s)))
                if len(dv):
                    yield pd.DataFrame({
                        "seg": np.full(len(dv), s, dtype=np.int32),
                        "doc": dv,
                        "score": sv,
                    })

        scan = self._postings.filter(
            reduce(lambda a, b: a | b, conds)).select(*cols)
        return self._coalesced(scan).mapInPandas(fn, self._score_schema)

    def _phrase_leaf(self, q: PhraseQuery, boost: np.float32,
                     k: int | None = None) -> DataFrame:
        """Phrase query (exact or sloppy) as ``(seg, doc, score)`` rows from
        one term-pruned postings scan, with the doc conjunction, position
        verification and BM25 all in numpy inside the scan task
        (_phrase_seg_topk). Each task holds whole segments (the searcher
        pins one file per partition, _coalesced unions whole partitions),
        so no positions are shuffled.

        With ``k`` (a root phrase) the kernel verifies candidates in
        impact order and stops once the k-th verified score beats every
        remaining bound, masks tombstones in the worker, and emits ≤ k
        rows per segment; pos_bin blocks that cannot beat θ are never
        varint-decoded. With ``k=None`` (a nested clause, count(),
        delete-by-query) every candidate is verified in bounded chunks
        and every hit emitted. Tests: tests/test_phrase_collector.py,
        tests/test_nested_positional.py.

        Sloppy phrases bound freq by Σ_slots tf − n_slots + 1 (every
        _SloppyFreq iteration consumes one position advance and emits ≤1
        match of weight ≤1); distinct-term shapes verify batch-vectorized,
        repeated-term shapes walk per doc behind the candidate cap."""
        self._check_field(q.field)
        self._check_positions(q.field)
        stats = self._stats_for([(q.field, t) for t in set(q.terms)])
        if any((q.field, t) not in stats for t in q.terms):
            return self.spark.createDataFrame([], self._score_schema)
        if q.slop > 0 and len(set(q.terms)) != len(q.terms):
            self._check_verify_cap(
                min(int(stats[(q.field, t)]["df"]) for t in q.terms),
                f"sloppy phrase {q.terms!r}~{q.slop}")
        wk32, coef64 = self._positional_weight(q.field, q.terms, boost,
                                               stats)

        # hot-pair rewrite (build.py bigram channel): for an exact phrase,
        # every adjacent (a@p, b@p+1) slot pair with BOTH terms in the hot
        # vocabulary collapses into ONE pseudo-slot backed by the pair
        # postings — pair-position set == capped(a) ∩ (capped(b)−1), so the
        # slot-intersection semantics (and therefore freq and score) are
        # unchanged, while the conjunction shrinks from corpus-sized
        # stopword lists to the tiny adjacency lists and the min-tf bound
        # becomes the EXACT adjacency count.  A 2-term hot phrase reduces
        # to a single slot and never decodes positions at all
        # (_phrase_seg_topk fast path).  Rank/score identity vs the
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
        uniq_terms = base_terms + pair_terms
        ti_of = {t: i for i, t in enumerate(uniq_terms)}
        slots = [(ti_of[t], p) for t, p, _ in new_slots]
        offsets = [p for _, p, _ in new_slots]
        slop_ = int(q.slop)
        terms_ = list(q.terms)
        bm = (self.scoring == "lucene", wk32, self.cache_f[q.field], coef64,
              *self.sim_f[q.field], self.avgdl64_f[q.field])
        chunk0 = _VERIFY_CHUNK

        def seg_fn(sub, tomb):
            tds = _decode_seg_tds(sub, ti_of)
            if len(tds) < len(uniq_terms):
                return (), ()
            return _phrase_seg_topk(tds, slots, offsets, tomb, k, chunk0,
                                    *bm, slop=slop_, terms=terms_)

        conds = []
        if base_terms:
            conds.append((F.col("field") == q.field)
                         & F.col("term").isin(base_terms))
        if pair_terms:
            conds.append((F.col("field") == q.field + BIGRAM_SUFFIX)
                         & F.col("term").isin(pair_terms))
        return self._leaf_scan(conds, seg_fn, k)

    def _span_leaf(self, q, boost: np.float32,
                   k: int | None = None) -> DataFrame:
        """Span query as ``(seg, doc, score)`` rows — the span analogue of
        :meth:`_phrase_leaf` (_span_seg_topk): candidates hold ≥1 term of
        every required clause group, the impact bound is the span-count
        bound, and ``k`` / ``k=None`` select root top-k or every hit.
        Scored like a phrase: weight = f32-summed idf of the tree's terms
        in tree order, freq = f32 Σ 1/(1+width) over emitted spans.
        Top-level SpanBoostQuery layers fold into the boost
        (span_boost.rs:290-291); boosts nested deeper are scoring no-ops
        like the reference's needs_scores=false sub-weights."""
        from .query import (
            SpanBoostQuery,
            SpanGapQuery,
            SpanNearQuery,
            span_spec,
            span_terms,
        )

        while isinstance(q, SpanBoostQuery):
            boost = np.float32(boost * np.float32(q.boost))
            q = q.query
        field = q.field
        self._check_field(field)
        self._check_positions(field)
        terms = span_terms(q)
        uniq_terms = sorted(set(terms))
        ti_of = {t: i for i, t in enumerate(uniq_terms)}
        spec = span_spec(q, ti_of)
        stats = self._stats_for([(field, t) for t in uniq_terms])
        wk32, coef64 = self._positional_weight(field, terms, boost, stats)

        # required-clause groups: a doc qualifies only with >=1 term of
        # EVERY top-level near clause (nested trees fold into their
        # top-level clause's group); or/term roots have a single group
        if isinstance(q, SpanNearQuery):
            groups = [span_terms(c) for c in q.clauses
                      if not isinstance(c, SpanGapQuery)]
        else:
            groups = [terms]
        group_tis = [sorted({ti_of[t] for t in g}) for g in groups]
        fast2 = (spec[0] == "near" and bool(spec[3]) and len(spec[1]) == 2
                 and all(s[0] == "term" for s in spec[1]))
        # ordered nears over term/gap clauses of any length verify
        # lockstep-vectorized, exempt from the per-doc-verify cap
        fastn = (not fast2 and spec[0] == "near" and bool(spec[3])
                 and all(s[0] in ("term", "gap") for s in spec[1])
                 and spec[1][0][0] == "term")
        if not (fast2 or fastn):
            # a doc needs >=1 term of every required group, so the
            # smallest group's summed df bounds the candidate set
            def _df(t: str) -> int:
                row = stats.get((field, t))
                return int(row["df"]) if row else 0
            bound = min((sum(_df(t) for t in g) for g in groups),
                        default=0)
            self._check_verify_cap(
                bound, f"span query over {sorted(set(terms))!r}")
        ta2 = spec[1][0][1] if fast2 else -1
        tb2 = spec[1][1][1] if fast2 else -1
        slop2 = spec[2] if fast2 else 0
        bm = (self.scoring == "lucene", wk32, self.cache_f[field], coef64,
              *self.sim_f[field], self.avgdl64_f[field])
        chunk0 = _VERIFY_CHUNK

        def seg_fn(sub, tomb):
            return _span_seg_topk(
                _decode_seg_tds(sub, ti_of), spec, group_tis, tomb, k,
                chunk0, *bm, fast2, ta2, tb2, slop2, fastn)

        return self._leaf_scan(
            [(F.col("field") == field) & F.col("term").isin(uniq_terms)],
            seg_fn, k)

    # -- boolean ---------------------------------------------------------

    def _boolean_frame(self, q: BooleanQuery, boost: np.float32,
                       needs_scores: bool, stats: dict) -> DataFrame:
        term_specs: list[tuple] = []
        tagged: list[DataFrame] = []

        def add(subs, role, scored, sub_boost):
            ct = _ROLE_CODE[role]
            for sub in subs:
                if isinstance(sub, TermQuery):
                    eff = (float(np.float32(sub_boost * np.float32(sub.boost)))
                           if scored else 1.0)
                    term_specs.append((sub.field, sub.term, ct, eff))
                elif scored:
                    tagged.append(self._frame(sub, sub_boost, needs_scores, stats)
                                  .withColumn("_ct", F.lit(ct)))
                else:
                    tagged.append(
                        self._frame(sub, np.float32(1.0), False, stats)
                        .select("seg", "doc",
                                F.lit(0.0).cast(self._score_t).alias("score"))
                        .withColumn("_ct", F.lit(ct)))

        add(q.musts, "m", True, boost)
        add(q.shoulds, "s", True, boost)
        add(q.filters, "f", False, np.float32(1.0))
        add(q.must_nots, "n", False, np.float32(1.0))
        if term_specs:
            tagged.append(self._batch_term_frame(term_specs, stats))

        unioned = reduce(DataFrame.unionByName, tagged)
        ct = F.col("_ct")
        agg = unioned.groupBy("seg", "doc").agg(
            F.sum(F.when(ct <= _ROLE_CODE["s"], F.col("score"))
                  .otherwise(F.lit(0.0))).alias("_score"),
            *[F.count(F.when(ct == code, 1)).alias("_n" + role)
              for role, code in _ROLE_CODE.items()],
        )
        cond = (
            (F.col("_nm") == len(q.musts))
            & (F.col("_nf") == len(q.filters))
            & (F.col("_nn") == 0)
            & (F.col("_ns") >= q.min_should_match)
        )
        return agg.filter(cond).select(
            "seg", "doc", F.col("_score").cast(self._score_t).alias("score")
        )
