"""Phrase-frequency kernels, shared by the Spark searcher and the oracle.

Ported from the reference scorers
(``/root/reference/src/core/search/scorer/phrase_scorer.rs``):

* :func:`exact_phrase_freq` — ``ExactPhraseScorer::phrase_freq``
  (``:179-229``): number of positions where every term ``i`` of the phrase
  occurs at ``p + offset_i``.  With strictly-ascending per-doc position lists
  this equals the size of the intersection of the shifted position sets.
* :func:`sloppy_phrase_freq` — ``SloppyPhraseScorer::phrase_freq``
  (``:537-575``) including repeat-group handling for phrases that repeat a
  term (``:587-792,807-916``).  The multi-term-postings branch is omitted:
  our ``PhraseQuery`` has exactly one term per position, so
  ``has_multi_term_rpts`` can never be true (``repeating_pps``, ``:947-961``).
  Matches accumulate ``1/(distance+1)`` in float32
  (``bm25_similarity.rs:65-67``), preserving the reference's documented
  greedy asymmetries (e.g. "a b c"~4 vs "c b a"~4 on doc "a b c b a").

Inputs are per-document position arrays — the searcher calls these on the
small candidate set that survives the conjunction join, never on full
posting lists.
"""

from __future__ import annotations

import heapq

import numpy as np


def exact_phrase_freq(pos_lists: list[np.ndarray], offsets: list[int]) -> int:
    """Count exact-phrase occurrences given each term's in-doc positions."""
    acc = np.asarray(pos_lists[0], dtype=np.int64) - offsets[0]
    for pl, off in zip(pos_lists[1:], offsets[1:]):
        if acc.size == 0:
            return 0
        acc = np.intersect1d(acc, np.asarray(pl, dtype=np.int64) - off, assume_unique=True)
    return int(acc.size)


class _PP:
    """PhrasePositions (phrase_scorer.rs:319-377): ``position`` is the raw
    in-doc position minus the phrase offset, so aligned terms compare equal."""

    __slots__ = ("positions", "idx", "position", "count", "offset", "ord",
                 "rpt_group", "rpt_ind", "term")

    def __init__(self, positions: np.ndarray, offset: int, ord_: int, term: str):
        self.positions = positions
        self.idx = 0
        self.position = 0
        self.count = 0
        self.offset = offset
        self.ord = ord_
        self.rpt_group = -1
        self.rpt_ind = 0
        self.term = term

    def first_position(self) -> None:
        self.count = len(self.positions)
        self.idx = 0
        self.next_position()

    def next_position(self) -> bool:
        if self.count > 0:
            self.count -= 1
            self.position = int(self.positions[self.idx]) - self.offset
            self.idx += 1
            return True
        return False


def sloppy_phrase_freq(
    pos_lists: list[np.ndarray],
    offsets: list[int],
    terms: list[str],
    slop: int,
) -> np.float32:
    """Sloppy phrase freq for one candidate document (all terms present)."""
    pps = [_PP(np.asarray(p, dtype=np.int64), off, i, t)
           for i, (p, off, t) in enumerate(zip(pos_lists, offsets, terms))]
    scorer = _SloppyFreq(pps, slop)
    return scorer.phrase_freq()


class _SloppyFreq:
    def __init__(self, pps: list[_PP], slop: int):
        self.pps = pps
        self.slop = slop
        self.pq: list[tuple[int, int, int, int]] = []  # (position, offset, ord, idx)
        self.end = -(2**31)
        self.has_rpts = False
        self.rpt_group: list[list[int]] = []
        self.rpt_stack: list[int] = []

    # -- heap helpers; entries are snapshots, pps in the heap never mutate --
    def _push(self, idx: int) -> None:
        pp = self.pps[idx]
        heapq.heappush(self.pq, (pp.position, pp.offset, pp.ord, idx))

    def _pop(self) -> int:
        return heapq.heappop(self.pq)[3]

    def phrase_freq(self) -> np.float32:
        # init_phrase_positions (:587-597) — per-doc evaluation always does
        # the "first time" init since repeats are a property of the query.
        if not self._init_first_time():
            return np.float32(0.0)
        freq = np.float32(0.0)
        pp_idx = self._pop()
        match_length = self.end - self.pps[pp_idx].position
        next_pos = self.pq[0][0]
        while self._advance_pp(pp_idx):
            if self.has_rpts and not self._advance_rpts(pp_idx):
                break
            if self.pps[pp_idx].position > next_pos:
                if match_length <= self.slop:
                    freq = np.float32(
                        freq + np.float32(1.0) / np.float32(match_length + 1.0)
                    )
                self._push(pp_idx)
                pp_idx = self._pop()
                next_pos = self.pq[0][0]
                match_length = self.end - self.pps[pp_idx].position
            else:
                match_length = min(
                    match_length, self.end - self.pps[pp_idx].position
                )
        if match_length <= self.slop:
            freq = np.float32(freq + np.float32(1.0) / np.float32(match_length + 1.0))
        return freq

    def _advance_pp(self, idx: int) -> bool:
        # phrase_scorer.rs:634-643
        if not self.pps[idx].next_position():
            return False
        if self.pps[idx].position > self.end:
            self.end = self.pps[idx].position
        return True

    def _init_first_time(self) -> bool:
        # phrase_scorer.rs:807-824 (single-term postings branch only)
        self.end = -(2**31)
        for pp in self.pps:
            pp.first_position()
        counts: dict[str, int] = {}
        for pp in self.pps:
            counts[pp.term] = counts.get(pp.term, 0) + 1
        rpt_terms = {t for t, c in counts.items() if c >= 2}
        self.has_rpts = bool(rpt_terms)
        if self.has_rpts:
            self.rpt_stack = [0] * len(self.pps)
            rpp = [i for i, pp in enumerate(self.pps) if pp.term in rpt_terms]
            self._gather_rpt_groups(rpp)
            if not self._advance_repeat_groups():
                return False
        self._fill_queue()
        return True

    def _gather_rpt_groups(self, rpp: list[int]) -> None:
        # phrase_scorer.rs:852-880 — group pps that collide in the first doc
        res: list[list[int]] = []
        for i, idx1 in enumerate(rpp):
            if self.pps[idx1].rpt_group >= 0:
                continue
            tp1 = self.pps[idx1].position + self.pps[idx1].offset
            for idx2 in rpp[i + 1:]:
                pp2 = self.pps[idx2]
                if (
                    pp2.rpt_group >= 0
                    or pp2.offset == self.pps[idx1].offset
                    or pp2.position + pp2.offset != tp1
                ):
                    continue
                g = self.pps[idx1].rpt_group
                if g < 0:
                    g = len(res)
                    self.pps[idx1].rpt_group = g
                    res.append([idx1])
                pp2.rpt_group = g
                res[g].append(idx2)
        # sort_rpt_groups (:828-841)
        for rg in res:
            rg.sort(key=lambda i: self.pps[i].offset)
            for j, idx in enumerate(rg):
                self.pps[idx].rpt_ind = j
            self.rpt_group.append(rg)

    def _advance_repeat_groups(self) -> bool:
        # phrase_scorer.rs:780-789 (no-multi-term branch): j-th pp advances j times
        for rg in self.rpt_group:
            for j in range(1, len(rg)):
                for _ in range(j):
                    if not self.pps[rg[j]].next_position():
                        return False
        return True

    def _fill_queue(self) -> None:
        self.pq = []
        for idx, pp in enumerate(self.pps):
            if pp.position > self.end:
                self.end = pp.position
            self._push(idx)

    def _lesser(self, a: int, b: int) -> int:
        pa, pb = self.pps[a], self.pps[b]
        if pa.position < pb.position or (
            pa.position == pb.position and pa.offset < pb.offset
        ):
            return a
        return b

    def _collide(self, idx: int) -> int:
        pp = self.pps[idx]
        tp = pp.position + pp.offset
        for j in self.rpt_group[pp.rpt_group]:
            pp2 = self.pps[j]
            if j != idx and pp2.position + pp2.offset == tp:
                return pp2.rpt_ind
        return -1

    def _advance_rpts(self, idx: int) -> bool:
        # phrase_scorer.rs:648-701
        pp = self.pps[idx]
        if pp.rpt_group < 0:
            return True
        bits = set()
        k0 = pp.rpt_ind
        cur = idx
        while True:
            k = self._collide(cur)
            if k < 0:
                break
            cur = self._lesser(cur, self.rpt_group[pp.rpt_group][k])
            if not self._advance_pp(cur):
                return False
            if k != k0:
                bits.add(k)
        # re-queue: drain until all advanced pps have left the heap
        n = 0
        while bits:
            pp2_idx = self._pop()
            self.rpt_stack[n] = pp2_idx
            n += 1
            pp2 = self.pps[pp2_idx]
            if pp2.rpt_group >= 0 and pp2.rpt_ind in bits:
                bits.discard(pp2.rpt_ind)
        for i in range(n):
            self._push(self.rpt_stack[n - 1 - i])
        return True


def sloppy_phrase_freq_nslot_flat(
    flats: list[np.ndarray],
    lens: list[np.ndarray],
    offs: list[int],
    slop: int,
) -> np.ndarray:
    """Vectorized :func:`sloppy_phrase_freq` for ANY number of DISTINCT
    terms — the round-4 verdict's #2: the n≥3-slot verify previously ran
    a per-doc Python heap walk behind ``verify_candidate_cap``.

    The scalar kernel (phrase_scorer.rs:537-575) is a heap-driven chain:
    hold the popped minimum slot, advance it, extend ``end``/shrink the
    match window until the held slot crosses the heap top, then score the
    phase (``1/(1+match_length)`` when within slop) and re-queue.  Every
    candidate doc runs the SAME state machine, so the whole batch
    advances in lockstep: per round each active doc performs exactly one
    ``next_position`` step; all state — per-slot cursors, current
    positions, the held slot, ``end``, the phase's match length — lives
    in (n_docs × n_slots) arrays, and the "heap" over ≤ n_slots entries
    is an argmin over a composite ``position*K + slot_rank`` key (rank =
    the scalar heap's (offset, ord) tie-break).  With tf capped at 10 a
    doc finishes in ≤ ~10·n_slots rounds.  Accumulation is float32 in
    chain order — bit-identical to the scalar kernel (fuzz-asserted in
    tests/test_phrase.py).  Repeated-term phrases (repeat groups,
    phrase_scorer.rs:587-792) stay on the scalar kernel.

    ``flats[s]`` holds every candidate doc's positions for slot ``s``
    concatenated in doc order, ``lens[s][i]`` the count of doc ``i``
    (must be ≥ 1 for every slot — candidates hold every term).
    """
    S = len(flats)
    n = len(lens[0])
    freq = np.zeros(n, dtype=np.float32)
    if n == 0:
        return freq
    SENT = np.int64(2**62)
    INF = np.int64(2**63 - 1)
    P = []
    for s in range(S):
        m = int(lens[s].max())
        M = np.full((n, m), SENT, dtype=np.int64)
        M[np.arange(m) < lens[s][:, None]] = np.asarray(flats[s],
                                                        dtype=np.int64)
        M[M != SENT] -= np.int64(offs[s])
        P.append(M)
    len_mat = np.stack([np.asarray(x, dtype=np.int64) for x in lens], axis=1)

    # slot rank = heap tie-break order (offset asc, ord asc)
    rank = np.empty(S, dtype=np.int64)
    rank[sorted(range(S), key=lambda s: (offs[s], s))] = np.arange(S)
    K = np.int64(S + 1)

    rows_all = np.arange(n)
    C = np.stack([P[s][:, 0] for s in range(S)], axis=1)  # first_position
    I = np.ones((n, S), dtype=np.int64)                   # next read index
    end = C.max(axis=1)
    key = C * K + rank[None, :]

    # initial pop: held slot = overall heap min
    cur = np.argmin(key, axis=1)
    kq = key.copy()
    kq[rows_all, cur] = INF
    next_pos = kq.min(axis=1) // K       # heap-top POSITION (rank < K ≥ 0)
    ml = end - C[rows_all, cur]
    active = np.ones(n, dtype=bool)
    one32 = np.float32(1.0)
    slop_ = np.int64(slop)

    while True:
        act = np.flatnonzero(active)
        if act.size == 0:
            break
        c_act = cur[act]
        has = I[act, c_act] < len_mat[act, c_act]
        # exhausted rows: score the final phase and finish
        fin = act[~has]
        if fin.size:
            mlf = ml[fin]
            hit = mlf <= slop_
            freq[fin[hit]] = (freq[fin[hit]]
                              + one32 / (mlf[hit].astype(np.float32) + one32)
                              ).astype(np.float32)
            active[fin] = False
        adv = act[has]
        if adv.size == 0:
            continue
        c_adv = cur[adv]
        # advance_pp: read the next position of the held slot
        newc = np.empty(adv.size, dtype=np.int64)
        for s in range(S):
            m_ = c_adv == s
            if m_.any():
                r_ = adv[m_]
                newc[m_] = P[s][r_, I[r_, s]]
        I[adv, c_adv] += 1
        C[adv, c_adv] = newc
        end[adv] = np.maximum(end[adv], newc)
        crossed = newc > next_pos[adv]
        # non-crossing rows: keep holding, tighten the window
        stay = adv[~crossed]
        if stay.size:
            ml[stay] = np.minimum(ml[stay], end[stay]
                                  - C[stay, cur[stay]])
        # crossing rows: score the phase, push back, pop the new min
        go = adv[crossed]
        if go.size:
            mlg = ml[go]
            hit = mlg <= slop_
            gh = go[hit]
            freq[gh] = (freq[gh]
                        + one32 / (mlg[hit].astype(np.float32) + one32)
                        ).astype(np.float32)
            key[go, cur[go]] = (C[go, cur[go]] * K + rank[cur[go]])
            sub = key[go]
            new_cur = np.argmin(sub, axis=1)
            cur[go] = new_cur
            sub2 = sub.copy()
            sub2[np.arange(go.size), new_cur] = INF
            next_pos[go] = sub2.min(axis=1) // K
            ml[go] = end[go] - C[go, new_cur]
    return freq


def sloppy_phrase_freq_2term_flat(
    flat_a: np.ndarray,
    la: np.ndarray,
    flat_b: np.ndarray,
    lb: np.ndarray,
    off_a: int,
    off_b: int,
    slop: int,
) -> np.ndarray:
    """Vectorized :func:`sloppy_phrase_freq` for the 2-DISTINCT-term case
    ("a b"~n — the adversarial stopword-pair shape) over a whole batch of
    candidate docs at once. ``flat_a`` is every candidate doc's positions
    for the first term concatenated in doc order and ``la[i]`` the count
    belonging to doc ``i`` (same for b).

    The reference's heap walk (phrase_scorer.rs:537-575) degenerates for
    two position lists into an alternating-leader chain: the leader is
    the larger current position; the lagging list advances until its
    first element STRICTLY above the leader (that element becomes the
    new leader and the sides swap), and each phase contributes
    ``1/(1 + L - floor)`` — ``floor`` being the largest lagging element
    ``<= L`` — whenever that match length is within the slop; exhaustion
    of the lagging list scores the final phase and stops. Each phase is
    one row-wise searchsorted, so the whole batch advances in lockstep:
    with tf capped at 10 per term, at most ~20 vectorized rounds replace
    a per-doc Python heap walk. Accumulation is float32 in chain order —
    bit-identical to the scalar kernel (fuzz-asserted in
    tests/test_phrase.py)."""
    n = len(la)
    freq = np.zeros(n, dtype=np.float32)
    ok = (la > 0) & (lb > 0)
    SENT = np.int64(2**62)
    ma = int(la.max()) if n else 0
    mb = int(lb.max()) if n else 0
    A = np.full((n, ma), SENT, dtype=np.int64)
    B = np.full((n, mb), SENT, dtype=np.int64)
    A[np.arange(ma) < la[:, None]] = flat_a
    B[np.arange(mb) < lb[:, None]] = flat_b
    # adjusted positions (pos - phrase offset); sentinels stay huge
    A[A != SENT] -= off_a
    B[B != SENT] -= off_b

    a0 = A[:, 0] if ma else np.full(n, SENT)
    b0 = B[:, 0] if mb else np.full(n, SENT)
    # initial pop takes the heap min, tie-broken by (offset, ord) like
    # the scalar kernel's pq entries, so the REMAINING top is the
    # leader: on an adjusted-position tie A pops (leader = B) iff
    # (off_a, 0) < (off_b, 1), i.e. off_a <= off_b. Crossings are
    # strict (>) so no later heap state can tie.
    lead_is_b = (b0 >= a0) if off_a <= off_b else (b0 > a0)
    L = np.where(lead_is_b, b0, a0)
    active = ok.copy()
    slop_ = np.int64(slop)
    one32 = np.float32(1.0)

    while True:
        act = np.flatnonzero(active)
        if act.size == 0:
            break
        # two sub-passes per round (lagging = A, then lagging = B); a row
        # whose side flips mid-round simply advances two phases — the
        # chain order, and with it the f32 accumulation order, holds
        for lag_mat, lag_len, lag_is_a in ((A, la, True), (B, lb, False)):
            sel = act[lead_is_b[act] == lag_is_a]
            if sel.size == 0:
                continue
            Lm = lag_mat[sel]
            Ls = L[sel]
            # row-wise searchsorted(side='right'): count of lag elems <= L
            j = (Lm <= Ls[:, None]).sum(axis=1)
            floor = Lm[np.arange(sel.size), j - 1]
            ml = Ls - floor
            contrib = np.where(
                ml <= slop_,
                one32 / (ml.astype(np.float32) + one32),
                np.float32(0.0),
            ).astype(np.float32)
            freq[sel] = (freq[sel] + contrib).astype(np.float32)
            exhausted = j >= lag_len[sel]
            active[sel[exhausted]] = False
            cont = sel[~exhausted]
            if cont.size:
                L[cont] = lag_mat[cont, j[~exhausted]]
                lead_is_b[cont] = not lag_is_a
    return freq
