#!/usr/bin/env python
"""Warm query latency with half the index deleted.

Builds a 60k-doc, 8-segment whitespace index (``make_corpus(60000,
seed=7)``, hash-partitioned by url) and a copy with 30,000 keys deleted
(every other doc), then times, on each index, searcher open, ``warmup()``
and 40 distinct queries: 20 term queries and 20 two-term should-booleans
over mid-df terms, alternating, after one untimed query. Both indexes are
timed twice in one Spark session, in turn: the first round (``*_warm``)
warms the JVM and the Python workers, the second is the measurement.
Each query's
result is digested (keys and float32 score bits), so two checkouts can be
compared for identical results.

    python tools/bench_live_docs.py build --work DIR
    python tools/bench_live_docs.py measure --work DIR --label change \\
        [--repo CHECKOUT] [--out BENCH_LIVE_DOCS.json]

``build`` writes both indexes under DIR. ``measure`` imports
``rucene_spark`` from CHECKOUT (default: this one), so the same indexes
can be timed under another commit, and merges one entry keyed by
``--label`` into the output JSON.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import struct
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = 60_000
SEGMENTS = 8
N_QUERIES = 20


def _use_checkout(repo: str) -> None:
    """Import rucene_spark from ``repo``, in the driver and (through
    PYTHONPATH, read when the JVM starts its Python workers) the workers."""
    sys.path.insert(0, repo)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, os.environ.get("PYTHONPATH")) if p)


def _spark(work: str):
    from pyspark.sql import SparkSession

    return (SparkSession.builder.master("local[4]")
            .appName("rucene-bench-live-docs")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", "2g")
            .config("spark.local.dir", os.path.join(work, "spark-local"))
            .getOrCreate())


def _queries(corpus):
    """(term queries, should-booleans): mid-df terms, df ranks 20-400."""
    from rucene_spark.query import BooleanQuery, TermQuery
    from rucene_spark.webtext import term_df_spectrum

    band = [t for t in term_df_spectrum(corpus).index[20:400]]
    terms = band[:N_QUERIES + 1]
    pairs = list(zip(band[N_QUERIES + 1::2], band[N_QUERIES + 2::2]))
    bools = [BooleanQuery.build([], [TermQuery("text", a),
                                     TermQuery("text", b)], [], [])
             for a, b in pairs[:N_QUERIES]]
    return [TermQuery("text", t) for t in terms], bools


def build(work: str) -> None:
    from rucene_spark.build import IndexWriter
    from rucene_spark.merge import delete_by_keys
    from rucene_spark.webtext import make_corpus

    spark = _spark(work)
    try:
        corpus = make_corpus(DOCS, seed=7).drop(columns=["html"])
        nodel = os.path.join(work, "nodel")
        t0 = time.perf_counter()
        IndexWriter(spark, nodel, n_segments=SEGMENTS, key_col="url").build(
            spark.createDataFrame(corpus))
        build_s = time.perf_counter() - t0
        dele = os.path.join(work, "deleted")
        shutil.copytree(nodel, dele)
        delete_by_keys(dele, corpus["url"].iloc[::2].tolist())
        corpus.to_parquet(os.path.join(work, "corpus.parquet"))
        print(json.dumps({"build_s": round(build_s, 2)}))
    finally:
        spark.stop()


def _digest(rows) -> str:
    canon = json.dumps([[r["url"], struct.pack(">f", r["score"]).hex()]
                        for r in rows])
    return hashlib.sha256(canon.encode()).hexdigest()[:16]


def _measure_index(spark, path, terms, bools) -> dict:
    import numpy as np

    from rucene_spark.search import IndexSearcher

    t0 = time.perf_counter()
    s = IndexSearcher(spark, path)
    t1 = time.perf_counter()
    s.warmup()
    t2 = time.perf_counter()
    s.search(terms[-1], 10).collect()  # untimed first query
    lat = {"term": [], "bool": []}
    digests = []
    for tq, bq in zip(terms[:N_QUERIES], bools):
        for fam, q in (("term", tq), ("bool", bq)):
            q0 = time.perf_counter()
            rows = s.search(q, 10).collect()
            lat[fam].append(time.perf_counter() - q0)
            digests.append(_digest(rows))
    both = lat["term"] + lat["bool"]
    tomb = s._tomb_by_seg()
    out = {
        "open_s": round(t1 - t0, 3),
        "warmup_s": round(t2 - t1, 3),
        "query_p50_s": round(float(np.median(both)), 4),
        "term_p50_s": round(float(np.median(lat["term"])), 4),
        "bool_p50_s": round(float(np.median(lat["bool"])), 4),
        "queries": len(both),
        "deleted_docs": int(sum(len(v) for v in tomb.values())),
        "resolved_bytes": int(sum(v.nbytes for v in tomb.values())),
        "result_digest": hashlib.sha256(
            "".join(digests).encode()).hexdigest()[:16],
    }
    if s._deleted is not None:
        plan = s._deleted._jdf.queryExecution().executedPlan().toString()
        out["resolver_broadcast_join"] = "BroadcastHashJoin" in plan
    return out


def measure(work: str, label: str, repo: str, out_path: str) -> None:
    import pandas as pd

    _use_checkout(repo)
    import rucene_spark

    found = os.path.dirname(os.path.dirname(
        os.path.abspath(rucene_spark.__file__)))
    if found != os.path.abspath(repo):
        raise SystemExit(f"rucene_spark imported from {found}, not {repo}")
    spark = _spark(work)
    try:
        corpus = pd.read_parquet(os.path.join(work, "corpus.parquet"))
        terms, bools = _queries(corpus)
        # two rounds, each index once per round; the first round warms
        # the JVM and the Python workers, the second is the measurement
        entry = {}
        for rnd in ("_warm", ""):
            for name in ("nodel", "deleted"):
                entry[name + rnd] = _measure_index(
                    spark, os.path.join(work, name), terms, bools)
    finally:
        spark.stop()
    entry["deleted_over_nodel_p50"] = round(
        entry["deleted"]["query_p50_s"] / entry["nodel"]["query_p50_s"], 3)
    res = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            res = json.load(f)
    res.setdefault("runs", {})[label] = entry
    with open(out_path, "w") as f:
        json.dump(res, f, indent=1)
        f.write("\n")
    print(json.dumps({label: entry}))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("phase", choices=["build", "measure"])
    ap.add_argument("--work", required=True)
    ap.add_argument("--label", default="change")
    ap.add_argument("--repo", default=REPO)
    ap.add_argument("--out", default=os.path.join(REPO,
                                                  "BENCH_LIVE_DOCS.json"))
    a = ap.parse_args()
    if a.phase == "build":
        _use_checkout(REPO)
        build(a.work)
    else:
        measure(a.work, a.label, a.repo, a.out)


if __name__ == "__main__":
    main()
