"""Span-query kernels, shared by the Spark searcher and the oracle engine.

Ported from the reference span subsystem
(``/root/reference/src/core/search/query/spans/``):

* span spec trees are tuples:
  ``("term", ti)`` | ``("or", [sub, ...])`` | ``("gap", width)`` |
  ``("near", [sub, ...], slop, in_order)``;
* evaluation returns per-doc span lists ``[(start, end, width), ...]`` in
  emission order; the top-level scorer accumulates
  ``freq += 1/(1 + width)`` in float32 per emitted span
  (span.rs:489-519 ``set_freq_current_doc`` +
  bm25_similarity.rs:65-67 ``compute_slop_factor``);
* ordered near (span_near.rs:725-821 ``NearSpansOrdered``): iterate the
  first clause's spans in order; each later clause advances — never
  rewinds — to its first span with ``start >= prev_end``
  (``stretch_to_order``); ``width = Σ (start_i − prev_end_{i-1})``;
  match iff ``width <= slop``; the pointers are monotone, so the
  stateful walk equals the stateless "first span at-or-after" form the
  SQL oracle uses;
* unordered near (span_near.rs:333-530 ``NearSpansUnordered``): min-heap
  of clause cells by (start, end); match iff
  ``max_end − min_start − Σ span_lengths <= slop``; emitted width is
  ``start(max_end_cell) − min_start`` (span_near.rs:512-515); advance
  the min cell between checks; stop when any cell exhausts. The max-end
  cell moves only on a STRICTLY larger end (span_near.rs:568-577), ties
  keep the earliest-positioned cell;
* span or (span_or.rs): positional union of the sub-spans, merged by
  (start, end); duplicates from different subs are all emitted;
* span gap (span_near.rs:855-900 ``SpanGapQuery``): a virtual clause
  that matches at any position with the given width — only meaningful
  inside an ordered near, where it consumes ``width`` positions without
  contributing to the slop.

One documented divergence: when two cells tie on (start, end) the
reference's BinaryHeap order is unspecified; we tie-break by clause
index so both of our engines are deterministic and identical.
"""

from __future__ import annotations

import heapq

import numpy as np


def term_spans(positions) -> list[tuple[int, int, int]]:
    """TermSpans: width 0, length 1 (span_term.rs)."""
    return [(int(p), int(p) + 1, 0) for p in positions]


def or_spans(sub_lists: list[list[tuple]]) -> list[tuple[int, int, int]]:
    """Positional union merged by (start, end) (span_or.rs queue order)."""
    return sorted(
        (s for sub in sub_lists for s in sub), key=lambda t: (t[0], t[1]))


def ordered_near_spans(clause_lists: list, slop: int) -> list[tuple[int, int, int]]:
    """NearSpansOrdered over already-evaluated clause span lists.

    A ``("gap", width)`` placeholder may appear INSTEAD of a span list —
    it matches at ``prev_end`` with the given width.
    """
    n = len(clause_lists)
    first = clause_lists[0]
    if isinstance(first, tuple) and first and first[0] == "gap":
        raise ValueError("span gap cannot be the first near clause")
    if not first:
        return []
    ptr = [0] * n
    out: list[tuple[int, int, int]] = []
    while ptr[0] < len(first):
        s0, e0, _ = first[ptr[0]]
        match_start, prev_end, width = s0, e0, 0
        ok = True
        for i in range(1, n):
            ci = clause_lists[i]
            if isinstance(ci, tuple) and ci and ci[0] == "gap":
                # gap matches at prev_end, occupying `width` positions
                width += 0
                prev_end = prev_end + ci[1]
                continue
            while ptr[i] < len(ci) and ci[ptr[i]][0] < prev_end:
                ptr[i] += 1
            if ptr[i] >= len(ci):
                return out  # one_exhausted_in_current_doc
            si, ei, _ = ci[ptr[i]]
            width += si - prev_end
            prev_end = ei
        if ok and width <= slop:
            out.append((match_start, prev_end, width))
        ptr[0] += 1
    return out


def unordered_near_spans(clause_lists: list[list[tuple]],
                         slop: int) -> list[tuple[int, int, int]]:
    """NearSpansUnordered over evaluated clause span lists."""
    n = len(clause_lists)
    if any(not c for c in clause_lists):
        return []
    ptr = [0] * n
    starts = [0] * n
    ends = [0] * n
    lengths = [0] * n
    total_len = 0
    max_idx = 0
    # initial positioning in cell order; max moves on STRICTLY larger end
    for i in range(n):
        s, e, _ = clause_lists[i][0]
        starts[i], ends[i] = s, e
        lengths[i] = e - s
        total_len += e - s
        if i > 0 and ends[i] > ends[max_idx]:
            max_idx = i
    heap = [(starts[i], ends[i], i) for i in range(n)]
    heapq.heapify(heap)
    out: list[tuple[int, int, int]] = []
    while True:
        min_start = heap[0][0]
        if ends[max_idx] - min_start - total_len <= slop:
            out.append((min_start, ends[max_idx], starts[max_idx] - min_start))
        _, _, i = heapq.heappop(heap)
        ptr[i] += 1
        if ptr[i] >= len(clause_lists[i]):
            return out
        s, e, _ = clause_lists[i][ptr[i]]
        total_len += (e - s) - lengths[i]
        lengths[i] = e - s
        starts[i], ends[i] = s, e
        if e > ends[max_idx]:
            max_idx = i
        heapq.heappush(heap, (s, e, i))


def eval_spec(spec, pos_map: dict) -> list | tuple:
    """Evaluate a span spec tree against ``{ti: ascending positions}``.

    Returns a span list, or the ``("gap", width)`` placeholder untouched
    (resolved by the enclosing ordered near).
    """
    kind = spec[0]
    if kind == "term":
        return term_spans(pos_map.get(spec[1], ()))
    if kind == "or":
        return or_spans([eval_spec(s, pos_map) for s in spec[1]])
    if kind == "gap":
        return spec
    if kind == "near":
        subs = [eval_spec(s, pos_map) for s in spec[1]]
        if spec[3]:
            return ordered_near_spans(subs, spec[2])
        for s in subs:
            if isinstance(s, tuple):
                raise ValueError("span gap requires an ordered near")
        return unordered_near_spans(subs, spec[2])
    raise ValueError(f"unknown span spec: {spec!r}")


def span_freq(spec, pos_map: dict) -> np.float32:
    """Float32 sloppy-freq over the emitted spans (span.rs:489-519)."""
    spans = eval_spec(spec, pos_map)
    freq = np.float32(0.0)
    for _, _, width in spans:
        freq = np.float32(
            freq + np.float32(1.0) / np.float32(1.0 + width))
    return freq


def ordered_near_freq_nclause_flat(
    clauses: list[tuple],
    slop: int,
) -> np.ndarray:
    """Vectorized ordered-near freq for ANY clause count over a batch of
    candidate docs — the round-4 verdict's #2 for the span side: 3+-clause
    ordered nears previously verified per-doc behind the candidate cap.

    ``clauses`` entries are ``("pos", flat, lens)`` — a positional clause
    (term, or an or-of-terms whose merged ascending positions are given;
    term spans have length 1, so the ordered walk only needs starts) —
    or ``("gap", width)``; the first clause must be positional.

    Correctness shape: the scalar walk (ordered_near_spans /
    span_near.rs:725-821) advances later-clause pointers monotonically
    across first-clause iterations; since the prev_end chains are
    non-decreasing in the first-clause position, the stateful pointers
    equal the stateless "first start ≥ prev_end" per iteration (module
    docstring), and clause exhaustion fails every later iteration too —
    so masking equals the scalar early-return.  One row-wise
    searchsorted per (first-clause column × later clause): ≤ 10·n_clause
    vectorized rounds for the whole batch.  Accumulation is float32 in
    ascending first-clause order — bit-identical to :func:`span_freq`
    (fuzz-asserted in tests/test_spans.py).
    """
    first = clauses[0]
    if first[0] != "pos":
        raise ValueError("first ordered-near clause must be positional")
    n = len(first[2])
    freq = np.zeros(n, dtype=np.float32)
    if n == 0:
        return freq
    SENT = np.int64(2**62)
    padded = []
    for cl in clauses:
        if cl[0] == "gap":
            padded.append(cl)
            continue
        _, flat, lens = cl
        lens = np.asarray(lens, dtype=np.int64)
        m = int(lens.max()) if n else 0
        M = np.full((n, max(m, 1)), SENT, dtype=np.int64)
        if m:
            M[np.arange(m) < lens[:, None]] = np.asarray(flat,
                                                         dtype=np.int64)
        padded.append(("pos", M, lens))
    _, A0, l0 = padded[0]
    rows = np.arange(n)
    one32 = np.float32(1.0)
    slop_ = np.int64(slop)
    for j in range(A0.shape[1]):
        a = A0[:, j]
        valid = a != SENT
        if not valid.any():
            break
        prev_end = a + np.int64(1)
        width = np.zeros(n, dtype=np.int64)
        for cl in padded[1:]:
            if cl[0] == "gap":
                prev_end = prev_end + np.int64(cl[1])
                continue
            _, Ci, li = cl
            idx = (Ci < prev_end[:, None]).sum(axis=1)
            valid &= idx < li
            s = Ci[rows, np.minimum(idx, Ci.shape[1] - 1)]
            width = width + (s - prev_end)
            prev_end = s + np.int64(1)
        wsafe = np.maximum(width, 0).astype(np.float32)
        contrib = np.where(
            valid & (width <= slop_),
            one32 / (wsafe + one32),
            np.float32(0.0),
        ).astype(np.float32)
        freq = (freq + contrib).astype(np.float32)
    return freq


def ordered_near_freq_2term_flat(
    flat_a: np.ndarray,
    la: np.ndarray,
    flat_b: np.ndarray,
    lb: np.ndarray,
    slop: int,
) -> np.ndarray:
    """Vectorized ordered-near freq of the 2-term-clause span shape ("a
    before b within n") over a batch of candidate docs: ``flat_a`` is
    every doc's positions of the first clause concatenated in doc order
    and ``la[i]`` the count belonging to doc ``i`` (same for b). One
    call of :func:`ordered_near_freq_nclause_flat`, which serves every
    ordered near over term/gap clauses."""
    return ordered_near_freq_nclause_flat(
        [("pos", flat_a, la), ("pos", flat_b, lb)], slop)
