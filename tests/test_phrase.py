"""Phrase-freq kernel tests. Expectations derive from the reference's own
doc-comments and algorithm (phrase_scorer.rs:521-575 docstring examples)."""

import numpy as np
import pytest

from rucene_spark.phrase import exact_phrase_freq, sloppy_phrase_freq


def positions_of(doc: str) -> dict[str, np.ndarray]:
    toks = doc.split()
    out: dict[str, list[int]] = {}
    for i, t in enumerate(toks):
        out.setdefault(t, []).append(i)
    return {k: np.array(v) for k, v in out.items()}


def phrase_inputs(doc: str, phrase: list[str]):
    p = positions_of(doc)
    return [p[t] for t in phrase], list(range(len(phrase))), phrase


def test_exact_simple():
    pls, offs, _ = phrase_inputs("the quick brown fox the quick fox", ["the", "quick"])
    assert exact_phrase_freq(pls, offs) == 2
    pls, offs, _ = phrase_inputs("a b c a b c a b", ["a", "b", "c"])
    assert exact_phrase_freq(pls, offs) == 2


def test_exact_no_match_when_gap():
    pls, offs, _ = phrase_inputs("a x b", ["a", "b"])
    assert exact_phrase_freq(pls, offs) == 0


def test_sloppy_docstring_example():
    # phrase_scorer.rs:526-528: for "a b"~2, doc "x a b a y" scores twice —
    # "a b" at distance 0 and "b a" at distance 2 → 1/1 + 1/3
    pls, offs, terms = phrase_inputs("x a b a y", ["a", "b"])
    freq = sloppy_phrase_freq(pls, offs, terms, slop=2)
    assert freq == pytest.approx(1.0 + 1.0 / 3.0, abs=1e-6)


def test_sloppy_zero_slop_equals_exact():
    for doc in ["a b a b", "x a b y a b", "a a b b"]:
        pls, offs, terms = phrase_inputs(doc, ["a", "b"])
        exact = exact_phrase_freq(pls, offs)
        freq = sloppy_phrase_freq(pls, offs, terms, slop=0)
        assert freq == pytest.approx(float(exact)), doc


def test_sloppy_greedy_asymmetry():
    # phrase_scorer.rs:531-533: doc "a b c b a" scores "a b c"~4 and
    # "c b a"~4 differently (greedy min-advance) — just pin both are > 0
    # and unequal, as documented.
    doc = "a b c b a"
    pls1, offs1, t1 = phrase_inputs(doc, ["a", "b", "c"])
    pls2, offs2, t2 = phrase_inputs(doc, ["c", "b", "a"])
    f1 = sloppy_phrase_freq(pls1, offs1, t1, slop=4)
    f2 = sloppy_phrase_freq(pls2, offs2, t2, slop=4)
    assert f1 > 0 and f2 > 0 and f1 != f2


def test_sloppy_with_repeated_term():
    # "ho my my"~2 on "ho my my" must match (repeat-group init: 2nd "my"
    # advances once past the collision)
    pls, offs, terms = phrase_inputs("ho my my", ["ho", "my", "my"])
    freq = sloppy_phrase_freq(pls, offs, terms, slop=2)
    assert freq > 0
    # and must NOT match when only one "my" exists in range
    p = positions_of("ho my zz")
    with_one = [p["ho"], p["my"], p["my"]]
    freq = sloppy_phrase_freq(with_one, [0, 1, 2], ["ho", "my", "my"], slop=2)
    assert freq == 0.0


def test_sloppy_beyond_slop_no_match():
    pls, offs, terms = phrase_inputs("a x x x x b", ["a", "b"])
    assert sloppy_phrase_freq(pls, offs, terms, slop=3) == 0.0
    assert sloppy_phrase_freq(pls, offs, terms, slop=4) > 0.0


def _flat(lists):
    """Per-doc position lists → (concatenated positions, per-doc counts),
    the flat layout the vectorized kernels take."""
    lens = np.array([len(x) for x in lists], dtype=np.int64)
    flat = (np.concatenate(lists).astype(np.int64) if len(lists)
            else np.empty(0, dtype=np.int64))
    return flat, lens


def test_2term_batch_bit_identical_fuzz():
    """The lockstep 2-term kernel must be float32-BIT-identical to the
    scalar heap walk on random position lists — including adjusted-
    position ties under every offset ordering (the heap tie-break)."""
    from rucene_spark.phrase import sloppy_phrase_freq_2term_flat

    rng = np.random.default_rng(2024)
    for o0, o1 in ((0, 1), (1, 0), (0, 0), (2, 0), (0, 3)):
        for slop in (0, 1, 2, 4, 7):
            la_l, lb_l = [], []
            for _ in range(400):
                span = int(rng.integers(11, 40))
                la_l.append(np.sort(rng.choice(
                    span, size=int(rng.integers(1, 11)),
                    replace=False)).astype(np.int64))
                lb_l.append(np.sort(rng.choice(
                    span, size=int(rng.integers(1, 11)),
                    replace=False)).astype(np.int64))
            got = sloppy_phrase_freq_2term_flat(
                *_flat(la_l), *_flat(lb_l), o0, o1, slop)
            for i in range(len(la_l)):
                want = sloppy_phrase_freq(
                    [la_l[i], lb_l[i]], [o0, o1], ["ta", "tb"], slop)
                assert (np.float32(got[i]).view(np.int32)
                        == np.float32(want).view(np.int32)), (
                    la_l[i], lb_l[i], o0, o1, slop, got[i], want)


def test_2term_flat_equals_list_kernel():
    """The flat-input kernel returns bit-identical freqs to the per-doc
    scalar kernel, scores zero-tf rows 0, and accepts empty batches."""
    from rucene_spark.phrase import sloppy_phrase_freq_2term_flat

    rng = np.random.default_rng(7)
    for o0, o1, slop in ((0, 1, 2), (1, 0, 0), (0, 3, 5)):
        la_l, lb_l = [], []
        for _ in range(200):
            span = int(rng.integers(11, 40))
            na, nb = int(rng.integers(0, 11)), int(rng.integers(0, 11))
            la_l.append(np.sort(rng.choice(
                span, size=na, replace=False)).astype(np.int64))
            lb_l.append(np.sort(rng.choice(
                span, size=nb, replace=False)).astype(np.int64))
        want = np.array(
            [sloppy_phrase_freq([a, b], [o0, o1], ["ta", "tb"], slop)
             if len(a) and len(b) else 0.0
             for a, b in zip(la_l, lb_l)], dtype=np.float32)
        got = sloppy_phrase_freq_2term_flat(
            *_flat(la_l), *_flat(lb_l), o0, o1, slop)
        assert got.tobytes() == want.tobytes()
    e = np.empty(0, dtype=np.int64)
    assert len(sloppy_phrase_freq_2term_flat(e, e, e, e, 0, 1, 2)) == 0


def test_nslot_batch_bit_identical_fuzz():
    """The lockstep n-slot kernel must be float32-BIT-identical to the
    scalar heap walk for 2..5 DISTINCT slots, contiguous and gapped and
    shuffled offsets, every slop band (round-4 verdict #2)."""
    from rucene_spark.phrase import sloppy_phrase_freq_nslot_flat

    rng = np.random.default_rng(55)
    for _ in range(600):
        S = int(rng.integers(2, 6))
        n = int(rng.integers(1, 30))
        offs = rng.choice(np.arange(0, S + 3), size=S,
                          replace=False).tolist()
        if rng.random() < 0.5:
            offs = sorted(offs)
        slop = int(rng.integers(0, 7))
        pls = [[np.sort(rng.choice(40, size=int(rng.integers(1, 11)),
                                   replace=False)).astype(np.int64)
                for _ in range(n)] for _ in range(S)]
        flats, lens = zip(*(_flat(p) for p in pls))
        got = sloppy_phrase_freq_nslot_flat(list(flats), list(lens), offs,
                                            slop)
        terms = [f"t{s}" for s in range(S)]
        for i in range(n):
            want = sloppy_phrase_freq(
                [pls[s][i] for s in range(S)], offs, terms, slop)
            assert (np.float32(got[i]).view(np.int32)
                    == np.float32(want).view(np.int32)), (
                [pls[s][i].tolist() for s in range(S)], offs, slop,
                got[i], want)
