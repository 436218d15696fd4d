"""Kernel probes and host calibration: library functions called directly,
no Spark.

The probes run on the workload's own index: postings rows read with pyarrow
from the committed segment files, decoded with ``codec``, scored with
``bm25``, and verified with the ``phrase`` and ``spans`` kernels over real
candidate documents. Rates are per 1M values or per 1k candidates.

The calibration is a fixed FOR/varint decode plus ``score32`` on synthetic
data. It runs before and after every benchmark run, so a slowdown of the
shared host shows beside the metrics instead of reading as a regression.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from rucene_spark import analysis, bm25, codec, phrase, spans
from rucene_spark.build import load_manifest, seg_table_paths

PROBE_REPS = 3
MAX_CANDIDATES = 4_000
SCALAR_CANDIDATES = 400


def _timed(fn) -> float:
    """Median wall seconds of ``PROBE_REPS`` calls."""
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def calibrate() -> float:
    """Seconds for a fixed decode + score pass (median of 5)."""
    rng = np.random.default_rng(12345)
    counts = np.full(2_000, codec.BLOCK_SIZE, dtype=np.int64)
    counts[::7] = 37
    gaps = rng.integers(1, 300, int(counts.sum())).astype(np.uint64)
    bufs = codec.batch_pack_ints(gaps, counts)
    norms = rng.integers(0, 256, gaps.size)
    tf = rng.integers(1, 11, gaps.size).astype(np.float32)
    cache = bm25.norm_cache32(np.float32(200.0))

    def work():
        docs = codec.batch_delta_decode(codec.batch_unpack(bufs, counts),
                                        counts)
        bm25.score32(np.float32(1.7), tf, norms, cache)
        return docs

    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        work()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _read_postings(index_dir: str):
    m = load_manifest(index_dir)
    path = seg_table_paths(index_dir, m, "postings")[0]
    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    t = pq.read_table(os.path.join(path, files[0]),
                      columns=["field", "term", "num_docs", "docs_bin",
                               "tfs_bin", "norms_bin", "pos_bin"])
    return t.to_pandas(), m


def _doc_positions(rows):
    """Decoded (docs, tfs, positions-per-doc offsets) of one term's rows."""
    counts = rows["num_docs"].to_numpy(dtype=np.int64)
    docs = codec.batch_delta_decode(
        codec.batch_unpack(rows["docs_bin"].tolist(), counts), counts)
    tfs = codec.batch_unpack(rows["tfs_bin"].tolist(), counts).astype(
        np.int64)
    pos, _ = codec.batch_unpack_positions(rows["pos_bin"].tolist(), tfs)
    return docs.astype(np.int64), tfs, pos


def _candidates(pdf, terms: list[str]):
    """Flat positions and per-doc lengths of each term over the docs that
    contain every term (the verify kernels' input)."""
    per = []
    for t in terms:
        rows = pdf[pdf["term"] == t]
        per.append(_doc_positions(rows))
    common = per[0][0]
    for docs, _, _ in per[1:]:
        common = np.intersect1d(common, docs)
    common = common[:MAX_CANDIDATES]
    flats, lens = [], []
    for docs, tfs, pos in per:
        starts = np.cumsum(tfs) - tfs
        sel = np.searchsorted(docs, common)
        ln = tfs[sel]
        idx = np.repeat(starts[sel], ln) + (
            np.arange(int(ln.sum())) - np.repeat(np.cumsum(ln) - ln, ln))
        flats.append(pos[idx])
        lens.append(ln)
    return flats, lens


def _split(flat, lens):
    ends = np.cumsum(lens)
    return np.split(flat, ends[:-1])


def kernel_probes(index_dir: str, texts: list[str]) -> dict:
    """Per-layer kernel rates on one index: ``{name: (value, unit)}``."""
    pdf, m = _read_postings(index_dir)
    pdf = pdf[pdf["field"] == m["field"]]
    out = {}

    counts = pdf["num_docs"].to_numpy(dtype=np.int64)
    docs_bins, tfs_bins = pdf["docs_bin"].tolist(), pdf["tfs_bin"].tolist()
    n_vals = int(counts.sum())

    def decode():
        return codec.batch_delta_decode(codec.batch_unpack(docs_bins, counts),
                                        counts)
    out["codec.decode_mvals_per_s"] = (n_vals / _timed(decode) / 1e6,
                                       "Mvals/s")
    tfs = codec.batch_unpack(tfs_bins, counts).astype(np.int64)
    pos_bins = pdf["pos_bin"].tolist()
    n_pos = int(tfs.sum())
    out["codec.positions_decode_mvals_per_s"] = (
        n_pos / _timed(lambda: codec.batch_unpack_positions(pos_bins, tfs))
        / 1e6, "Mvals/s")
    docs = decode()
    gaps = np.concatenate([[0], np.diff(docs.astype(np.int64))])
    starts = np.cumsum(counts) - counts
    gaps[starts] = docs[starts].astype(np.int64)
    gaps = gaps.astype(np.uint64)
    out["codec.encode_mvals_per_s"] = (
        n_vals / _timed(lambda: codec.batch_pack_ints(gaps, counts)) / 1e6,
        "Mvals/s")

    norms = codec.batch_unpack(pdf["norms_bin"].tolist(), counts)
    cache = bm25.norm_cache32(np.float32(200.0))
    freq = tfs.astype(np.float32)
    out["bm25.mscores_per_s"] = (
        n_vals / _timed(lambda: bm25.score32(np.float32(1.3), freq, norms,
                                            cache)) / 1e6, "Mscores/s")

    # verify kernels over the docs holding both of two mid-df terms (df
    # ranks 20 and 21 within the segment); the scalar walks take the first
    # SCALAR_CANDIDATES of them
    by_df = pdf.groupby("term")["num_docs"].sum().sort_values(
        ascending=False)
    plain = [t for t in by_df.index if t[:1] == "t" and t[1:].isdigit()]
    a, b = plain[20], plain[21]
    (fa, fb), (la, lb) = _candidates(pdf, [a, b])
    n = la.size
    kc = n / 1e3

    out["phrase.sloppy_2term_kcands_per_s"] = (kc / _timed(
        lambda: phrase.sloppy_phrase_freq_2term_flat(fa, la, fb, lb, 0, 1,
                                                     2)), "kcands/s")
    out["phrase.sloppy_nslot_kcands_per_s"] = (kc / _timed(
        lambda: phrase.sloppy_phrase_freq_nslot_flat([fa, fb], [la, lb],
                                                     [0, 1], 2)), "kcands/s")
    lists_a = _split(fa, la)[:SCALAR_CANDIDATES]
    lists_b = _split(fb, lb)[:SCALAR_CANDIDATES]
    ns = len(lists_a)
    out["phrase.sloppy_scalar_kcands_per_s"] = (ns / 1e3 / _timed(
        lambda: [phrase.sloppy_phrase_freq([x, y, x], [0, 1, 2],
                                           ["a", "b", "a"], 2)
                 for x, y in zip(lists_a, lists_b)]), "kcands/s")

    out["spans.ordered_2term_kcands_per_s"] = (kc / _timed(
        lambda: spans.ordered_near_freq_2term_flat(fa, la, fb, lb, 2)),
        "kcands/s")
    out["spans.ordered_nclause_kcands_per_s"] = (kc / _timed(
        lambda: spans.ordered_near_freq_nclause_flat(
            [("pos", fa, la), ("pos", fb, lb)], 2)), "kcands/s")
    spec = ("near", [("term", 0), ("term", 1)], 2, False)
    out["spans.unordered_kcands_per_s"] = (ns / 1e3 / _timed(
        lambda: [spans.span_freq(spec, {0: x, 1: y})
                 for x, y in zip(lists_a, lists_b)]), "kcands/s")

    sample = texts[:2_000]
    for mode in ("whitespace", "standard"):
        n_tok = len(analysis.batch_tokenize(sample, mode)[1])
        out[f"analysis.{mode}_mtokens_per_s"] = (n_tok / _timed(
            lambda: analysis.batch_tokenize(sample, mode)) / 1e6,
            "Mtokens/s")
    return out
