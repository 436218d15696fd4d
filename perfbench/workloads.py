"""The benchmark's workloads, each a function of a :class:`Context`.

Every workload builds its index from ``make_corpus(seed)``, times its set-up
``SETUP_REPS`` times, then runs a closed loop of checked operations for the
requested seconds. Sizes are small on purpose: one run, Spark start-up
included, has to fit in about a minute on a 4-core host, and at these sizes
the engine's per-query fixed costs (planning, job dispatch, Python workers)
dominate, which is what the serving path pays at any size.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import tempfile
import time
from dataclasses import dataclass, field

import numpy as np

from rucene_spark import storage
from rucene_spark.build import IndexWriter, load_manifest
from rucene_spark.merge import delete_by_keys, maybe_merge
from rucene_spark.query import (BooleanQuery, DisjunctionMaxQuery,
                                PhraseQuery, QueryStringQueryBuilder,
                                SpanNearQuery, SpanTermQuery, TermQuery)
from rucene_spark.search import IndexSearcher
from rucene_spark.webtext import make_corpus, term_df_spectrum

from check import Tally, check_hits, hit_record, load_expected
from eventlog import Tracer

K = 10
# set-up is timed SETUP_REPS times and reported as the median. The first
# rep also pays the JVM's class loading and JIT and the Python workers'
# start-up (about 10 s); a third rep would cost 5 s of a run that has to
# average under a minute, so the median is the mean of a cold and a warm rep
SETUP_REPS = 2
FIELDS = [("text", 1.0)]


class Context:
    def __init__(self, spark, work: str, seed: int, seconds: float, *,
                 trace: bool, record: bool) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.record = record
        self.tracer = Tracer(spark.sparkContext, enabled=trace)

    def new_dir(self, name: str) -> str:
        return tempfile.mkdtemp(prefix=name + "-", dir=self.work)


@dataclass
class Result(Tally):
    metrics: dict = field(default_factory=dict)  # name -> (value, unit)
    details: dict = field(default_factory=dict)
    recorded: dict = field(default_factory=dict)
    latencies: list = field(default_factory=list)   # (family, seconds)
    index_dir: str = ""
    corpus_texts: list = field(default_factory=list)
    answered: int = 0                               # queries answered
    parse_s: list = field(default_factory=list)
    routes: dict = field(default_factory=dict)      # family -> _route()
    layer: dict = field(default_factory=dict)       # workload-side layer data


def tail(lat: list[float]) -> dict:
    """The highest nearest-rank percentile that leaves at least 10 samples
    above it, with the sample count; None values when there are too few
    samples for one."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return {"value_s": None, "percentile": None, "samples": n}
    i = n - 11
    return {"value_s": s[i], "percentile": round(100.0 * (i + 1) / n, 1),
            "samples": n}


def _serving_metrics(res: Result) -> None:
    lat = [t for _, t in res.latencies]
    res.metrics["query_p50_s"] = (statistics.median(lat), "s")
    # closed loop: the query phase is the time spent in search calls
    res.metrics["qps"] = (res.answered / sum(lat), "1/s")
    res.details["query_tail"] = tail(lat)


def _rows(frame_rows) -> list[tuple[str, float]]:
    return [(r["url"], r["score"]) for r in frame_rows]


def _setup_metrics(res: Result, reps: list[dict], n_docs: int,
                   text_bytes: int, index_dir: str) -> None:
    res.metrics["setup_s"] = (statistics.median(r["total"] for r in reps),
                              "s")
    res.metrics["build_docs_per_s"] = (
        n_docs / statistics.median(r["build"] for r in reps), "docs/s")
    res.metrics["index_bytes_per_text_byte"] = (
        tree_bytes(index_dir) / text_bytes, "ratio")
    res.details["setup_reps_s"] = [round(r["total"], 4) for r in reps]


def tree_bytes(path: str) -> int:
    """Bytes of every file under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _open(ctx: Context, idx: str, rep: dict) -> IndexSearcher:
    with ctx.tracer.op("open") as o:
        s = IndexSearcher(ctx.spark, idx)
    rep["open"] = o["wall"]
    with ctx.tracer.op("warmup") as o:
        s.warmup()
    rep["warmup"] = o["wall"]
    return s


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------

QM_DOCS = 8_000
QM_SEGMENTS = 8
QM_DELETE_EVERY = 100          # 1% of keys deleted, never merged
QM_MAX_CYCLES = 6
QM_RECORD_CYCLES = 2
QM_MANY = 8                    # queries per search_many batch
# df-rank band for query terms. It also bounds the two scalar-walk families
# (repeated-term sloppy phrase, unordered span): at these ranks each op stays
# well under a few seconds on a 4-core host. Keep it fixed.
MID_BAND = (20, 400)
HI_BAND = (0, 8)

FAMILIES = ("term", "bool_should", "bool_must", "bool_nested", "dismax",
            "phrase_exact", "phrase_sloppy", "phrase_sloppy_repeat",
            "span_ordered", "span_unordered", "phrase_in_bool", "many_flat")


def parse(s: str):
    """A query-string query and the seconds its parse took."""
    t0 = time.perf_counter()
    q = QueryStringQueryBuilder(s, FIELDS).build()
    return q, time.perf_counter() - t0


class QueryMaterial:
    """Deterministic query terms for one corpus: df-ranked single terms
    and real adjacent pairs, drawn per (cycle, family) from the seed."""

    def __init__(self, corpus, seed: int) -> None:
        dfs = term_df_spectrum(corpus)
        plain = [t for t in dfs.index if re.fullmatch(r"t\d{6}", t)]
        self.hi = plain[HI_BAND[0]:HI_BAND[1]]
        self.mid = plain[MID_BAND[0]:MID_BAND[1]]
        self.seed = seed
        mid_set, hi_set = set(self.mid), set(self.hi)
        mid_pairs, hi_pairs = {}, {}
        for text in corpus["text"].iloc[:2000]:
            toks = text.split(" ")
            for a, b in zip(toks, toks[1:]):
                if a == b:
                    continue
                if a in mid_set and b in mid_set:
                    mid_pairs.setdefault((a, b), None)
                elif a in hi_set and b in hi_set:
                    hi_pairs.setdefault((a, b), None)
        self.mid_pairs = list(mid_pairs)
        self.hi_pairs = list(hi_pairs)
        self._seen: set[str] = set()

    def _rng(self, cycle: int, fam: str):
        return np.random.default_rng(
            [self.seed, cycle, FAMILIES.index(fam)])

    def _pick(self, rng, seq):
        return seq[int(rng.integers(len(seq)))]

    def query(self, fam: str, cycle: int):
        """One query of family ``fam`` never returned before (a repeat
        would hit the searcher's plan cache), and its parse time."""
        rng = self._rng(cycle, fam)
        while True:
            q, parse_s = self._draw(fam, cycle, rng)
            key = repr(q)
            if key not in self._seen:
                self._seen.add(key)
                return q, parse_s

    def _draw(self, fam: str, cycle: int, rng):
        m = lambda: self._pick(rng, self.mid)  # noqa: E731
        h = lambda: self._pick(rng, self.hi)   # noqa: E731
        if fam == "term":
            return TermQuery("text", m()), 0.0
        if fam == "bool_should":
            return parse(f"{m()} {m()}")
        if fam == "bool_must":
            return parse(f"+{h()} +{m()}")
        if fam == "bool_nested":
            return parse(f"{m()} +({m()} {m()})")
        if fam == "dismax":
            return DisjunctionMaxQuery(
                [TermQuery("text", h()), TermQuery("text", m())], 0.1), 0.0
        if fam == "phrase_exact":
            # even cycles: a pair of stopword-like top-df terms
            pairs = (self.hi_pairs if cycle % 2 == 0 and self.hi_pairs
                     else self.mid_pairs)
            return PhraseQuery.build("text", list(self._pick(rng, pairs)),
                                     slop=0), 0.0
        a, b = self._pick(rng, self.mid_pairs)
        if fam == "phrase_sloppy":
            return PhraseQuery.build("text", [a, b], slop=2), 0.0
        if fam == "phrase_sloppy_repeat":
            return PhraseQuery.build("text", [a, b, a], slop=2), 0.0
        if fam in ("span_ordered", "span_unordered"):
            return SpanNearQuery(
                [SpanTermQuery("text", a), SpanTermQuery("text", b)],
                slop=2, in_order=fam == "span_ordered"), 0.0
        if fam == "phrase_in_bool":
            return BooleanQuery.build(
                [PhraseQuery.build("text", [a, b], slop=0)],
                [TermQuery("text", m())], [], []), 0.0
        if fam == "many_flat":
            # the flat term/boolean shapes of make_query_strings_large
            shapes = ("{a} {b}", "+{a} {b}", "+{a} +{b}", "({a}^2 | {b})",
                      "{a} +({b} {c})", "{a}^0.5 {b}^2 {c}")
            qs, parse_s = [], 0.0
            for i in range(QM_MANY):
                q, ps = parse(shapes[i % len(shapes)].format(
                    a=m(), b=m(), c=m()))
                qs.append(q)
                parse_s += ps
            return qs, parse_s
        raise ValueError(fam)


def _route(frame) -> dict:
    """What the physical plan shows, read from outside the library: a
    Python map (every route decodes postings in one), and a shuffle by
    (seg, doc), which only the JVM frame route has."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frame.explain()
    plan = buf.getvalue()
    shuffle = "Exchange hashpartitioning(seg" in plan
    return {"python_map": "MapInPandas" in plan or "MapInArrow" in plan,
            "doc_shuffle": shuffle,
            "route": "frame" if shuffle else "collector"}


def _search_op(ctx: Context, res: Result, s: IndexSearcher, fam: str,
               q, op_id: str, expected: dict | None,
               dead: frozenset) -> None:
    """Run one checked search()/search_many() call."""
    many = isinstance(q, list)
    with ctx.tracer.op("search", fam) as o:
        frame = s.search_many(q, K) if many else s.search(q, K)
        o["planned"] = time.time()
        rows = frame.collect()
    res.latencies.append((fam, o["wall"]))
    if ctx.trace and fam not in res.routes:
        res.routes[fam] = _route(frame)
    if many:
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["qid"], -r["score"],
                                             r["seg"], r["doc"])):
            by_q.setdefault(r["qid"], []).append(r)
        problems = []
        for qi in range(len(q)):
            sub_id = f"{op_id}:{qi}"
            hits = _rows(by_q.get(qi, []))
            problems += check_hits(
                hits, K, dead=dead,
                expected=expected.get(sub_id) if expected else None)
            res.recorded[sub_id] = hit_record(hits)
    else:
        hits = _rows(rows)
        problems = check_hits(
            hits, K, dead=dead,
            expected=expected.get(op_id) if expected else None)
        res.recorded[op_id] = hit_record(hits)
    res.outcome(op_id, problems)
    res.answered += len(q) if many else 1


def query_mix_inputs(seed: int) -> dict:
    corpus = make_corpus(QM_DOCS, seed=seed).drop(columns=["html"])
    rng = np.random.default_rng([seed, 7])
    dead_keys = corpus["url"].to_numpy()[
        rng.choice(QM_DOCS, QM_DOCS // QM_DELETE_EVERY, replace=False)]
    return {"corpus": corpus, "dead_keys": dead_keys.tolist(),
            "material": QueryMaterial(corpus, seed)}


def query_mix(ctx: Context, inp: dict) -> Result:
    """8k-doc whitespace index, 8 segments, 1% of keys deleted and not
    merged; one client, closed loop over the FAMILIES cycle, every query
    distinct. The per-segment collector gate is lowered to this index
    size, so the term, boolean and dismax families take the collector route
    a 100k+-doc index takes (phrase and span roots take it at any size)."""
    os.environ["RUCENE_COLLECTOR_MIN_DOCS"] = str(QM_DOCS // 2)
    res = Result()
    corpus, dead_keys = inp["corpus"], inp["dead_keys"]
    text_bytes = int(corpus["text"].str.encode("utf-8").str.len().sum())
    res.corpus_texts = corpus["text"].tolist()
    dead = frozenset(dead_keys)
    df = ctx.spark.createDataFrame(corpus)

    reps, idx = [], None
    for _ in range(1 if ctx.record else SETUP_REPS):
        if idx is not None:
            shutil.rmtree(idx)
        idx = ctx.new_dir("qm-index")
        rep = {}
        with ctx.tracer.op("build") as o:
            IndexWriter(ctx.spark, idx, n_segments=QM_SEGMENTS).build(df)
        rep["build"] = o["wall"]
        with ctx.tracer.op("delete") as o:
            delete_by_keys(idx, dead_keys)
        rep["delete"] = o["wall"]
        s = _open(ctx, idx, rep)
        rep["total"] = sum(rep.values())
        reps.append(rep)
    _setup_metrics(res, reps, QM_DOCS, text_bytes, idx)
    res.metrics["reopen_s"] = (
        statistics.median(r["open"] + r["warmup"] for r in reps), "s")
    res.index_dir = idx

    expected = load_expected("query_mix", ctx.seed)
    res.details["expected_results"] = expected is not None
    cycle = 0
    t0 = time.perf_counter()
    while cycle < (QM_RECORD_CYCLES if ctx.record else QM_MAX_CYCLES):
        if not ctx.record and cycle and time.perf_counter() - t0 >= ctx.seconds:
            break
        for fam in FAMILIES:
            q, parse_s = inp["material"].query(fam, cycle)
            if parse_s:
                res.parse_s.append(parse_s)
            _search_op(ctx, res, s, fam, q, f"{cycle}:{fam}", expected, dead)
        cycle += 1
    _serving_metrics(res)
    res.details["cycles"] = cycle
    return res


# ---------------------------------------------------------------------------
# nrt_ingest
# ---------------------------------------------------------------------------

NRT_BASE = 4_000
NRT_ADD = 1_000
NRT_UPDATE = 200
NRT_DELETE = 200
NRT_CYCLES = 1
# base segments plus the cycles' two delta segments each must exceed what
# the default TieredMergePolicy allows, so maybe_merge has one merge to do
NRT_SEGMENTS = 6


def nrt_ingest_inputs(seed: int) -> dict:
    corpus = make_corpus(NRT_BASE + NRT_CYCLES * NRT_ADD, seed=seed)
    corpus = corpus.drop(columns=["html"]).assign(ver=0)
    # update texts come from a second corpus drawn from the same seed
    upd = make_corpus(NRT_CYCLES * NRT_UPDATE, seed=seed + 1_000_003)
    base = corpus.iloc[:NRT_BASE]
    mid = QueryMaterial(base, seed).mid
    nested, parse_s = parse(f"{mid[5]} +({mid[17]} {mid[70]})")
    should, _ = parse(f"{mid[9]} {mid[30]} {mid[120]}")
    return {"corpus": corpus, "upd": upd.drop(columns=["html"]),
            "queries": [nested, should], "parse_s": parse_s}


def nrt_ingest(ctx: Context, inp: dict) -> Result:
    """A standard-analyzer base index, then NRT_CYCLES write cycles beside
    reads: each adds new docs as one segment, updates and deletes existing
    keys, reopens a warmed searcher and reruns the fixed queries (a nested
    and a flat boolean over mid-df terms, which the standard analyzer
    leaves unchanged); then one maybe_merge and the queries again.
    The index stays under the collector gate, so queries take the JVM frame
    route over many unmerged segments. The op sequence is fixed, not timed,
    so every commit merges the same segments."""
    res = Result()
    corpus, upd_src, queries = inp["corpus"], inp["upd"], inp["queries"]
    res.parse_s.append(inp["parse_s"])
    base = corpus.iloc[:NRT_BASE]
    res.corpus_texts = base["text"].tolist()
    text_bytes = int(base["text"].str.encode("utf-8").str.len().sum())
    spark = ctx.spark

    reps, idx = [], None
    for _ in range(SETUP_REPS):
        if idx is not None:
            shutil.rmtree(idx)
        idx = ctx.new_dir("nrt-index")
        rep = {}
        with ctx.tracer.op("build") as o:
            IndexWriter(spark, idx, n_segments=NRT_SEGMENTS,
                        analyzer="standard").build(
                spark.createDataFrame(base))
        rep["build"] = o["wall"]
        s = _open(ctx, idx, rep)
        rep["total"] = sum(rep.values())
        reps.append(rep)
    _setup_metrics(res, reps, NRT_BASE, text_bytes, idx)
    res.index_dir = idx

    writer = IndexWriter(spark, idx, n_segments=NRT_SEGMENTS,
                         analyzer="standard")
    rng = np.random.default_rng([ctx.seed, 11])
    live = {k: 0 for k in base["url"]}           # key -> live version
    dead: set[str] = set()
    written = NRT_BASE
    add_rates = []
    # the commits of the measured phase: each cycle's, then the merge's
    reopens = []
    res.layer["delete_s"] = []

    def run_queries(tag: str) -> None:
        for qi, q in enumerate(queries):
            with ctx.tracer.op("search", "nrt") as o:
                frame = s.search(q, K)
                o["planned"] = time.time()
                rows = frame.collect()
            res.latencies.append(("nrt", o["wall"]))
            if ctx.trace and f"nrt{qi}" not in res.routes:
                res.routes[f"nrt{qi}"] = _route(frame)
            hits = _rows(rows)
            res.outcome(f"{tag}:q{qi}", check_hits(
                hits, K, dead=frozenset(dead), versions=live,
                row_versions=[r["ver"] for r in rows]))
            res.answered += 1

    for cycle in range(NRT_CYCLES):
        lo = NRT_BASE + cycle * NRT_ADD
        adds = corpus.iloc[lo:lo + NRT_ADD]
        keys = sorted(live)
        picks = rng.choice(len(keys), NRT_UPDATE + NRT_DELETE, replace=False)
        upd_keys = [keys[i] for i in picks[:NRT_UPDATE]]
        del_keys = [keys[i] for i in picks[NRT_UPDATE:]]
        upd = upd_src.iloc[cycle * NRT_UPDATE:(cycle + 1) * NRT_UPDATE
                           ].assign(url=upd_keys, ver=cycle + 1)
        with ctx.tracer.op("add") as oa:
            writer.add_documents(spark.createDataFrame(adds), n_segments=1)
        with ctx.tracer.op("update") as ou:
            writer.update_documents(spark.createDataFrame(upd),
                                    n_segments=1)
        add_rates.append((NRT_ADD + NRT_UPDATE) / (oa["wall"] + ou["wall"]))
        with ctx.tracer.op("delete") as o:
            delete_by_keys(idx, del_keys)
        res.layer["delete_s"].append(o["wall"])
        written += NRT_ADD + NRT_UPDATE
        live.update({k: 0 for k in adds["url"]})
        live.update({k: cycle + 1 for k in upd_keys})
        for k in del_keys:
            del live[k]
        dead.update(del_keys)
        rep = {}
        s = _open(ctx, idx, rep)
        reopens.append(rep["open"] + rep["warmup"])
        m = load_manifest(idx)
        res.outcome(f"{cycle}:doc_count", [] if m["doc_count"] == written
                    else [f"doc_count {m['doc_count']} != {written}"])
        run_queries(str(cycle))

    with ctx.tracer.op("count"):
        before = s.count(queries[0])
    res.layer["segments_before"] = len(load_manifest(idx)["segments"])
    res.layer["tombstones"] = _tombstone_rows(idx)
    with ctx.tracer.op("merge") as mo:
        merged = maybe_merge(spark, idx)
    res.layer["merge_s"] = mo["wall"]
    res.layer["merges"] = merged
    res.layer["segments_after"] = len(load_manifest(idx)["segments"])
    rep = {}
    s = _open(ctx, idx, rep)
    reopens.append(rep["open"] + rep["warmup"])
    with ctx.tracer.op("count"):
        after = s.count(queries[0])
    res.outcome("merge:count", [] if before == after
                else [f"count before merge {before} != after {after}"])
    run_queries("merged")

    _serving_metrics(res)
    res.metrics["reopen_s"] = (statistics.median(reopens), "s")
    res.details.update(
        add_docs_per_s=statistics.median(add_rates), merge_s=mo["wall"],
        merges=len(merged), reopen_commit_s=[round(x, 4) for x in reopens])
    return res


def _tombstone_rows(idx: str) -> int:
    d = os.path.join(idx, "tombstones")
    if not storage.is_dir(d):
        return 0
    return sum(storage.parquet_num_rows(os.path.join(d, f))
               for f in storage.listdir(d) if f.endswith(".parquet"))


INPUTS = {"query_mix": query_mix_inputs, "nrt_ingest": nrt_ingest_inputs}
RUNS = {"query_mix": query_mix, "nrt_ingest": nrt_ingest}
