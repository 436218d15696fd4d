#!/usr/bin/env python
"""Million-doc scale proof (round-3 VERDICT 'Next round #1').

Exercises the whole engine at >=1M documents on local[32] — two orders
of magnitude above the sf0.1 driver bench — and records per-stage wall
times. The corpus is generated DISTRIBUTED (one make_corpus call per
partition with a partition-unique url prefix), so nothing at any stage
is driver-sized.

Stages:
  1. generate + write corpus parquet (distributed, deterministic)
  2. fresh index build (tokenize -> invert -> FOR/varint pack -> parquet)
  3. query suite: term / stopword-pair exact phrase (the round-2
     Python-loop hazard) / boolean / dismax / block-max WAND / span-near
  4. maintenance: delete ~2% by key, tiered merge to quiescence, re-query
  5. IVF at n_cells=256 over 200k embeddings (broadcast quantizer +
     cell-partitioned layout, partition-pruned probe)

Writes BENCH_1M.json at the repo root; prints one JSON line.

Env: BENCH1M_DOCS (default 1_000_000), BENCH1M_CPUS (default 32),
     BENCH1M_VECS (default 200_000), BENCH1M_CELLS (IVF cells, 256),
     BENCH1M_OUT (output filename, BENCH_1M.json),
     BENCH1M_PARTS (generation/segment partitions, default 64).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOCS = int(os.environ.get("BENCH1M_DOCS", "1000000"))
CPUS = int(os.environ.get("BENCH1M_CPUS", "32"))
VECS = int(os.environ.get("BENCH1M_VECS", "200000"))
CELLS = int(os.environ.get("BENCH1M_CELLS", "256"))
OUT = os.environ.get("BENCH1M_OUT", "BENCH_1M.json")
# partition count = generation tasks = index segments; raise for >1M docs
# so each Python worker holds ~40k docs of pandas state, not 150k+
N_PARTS = int(os.environ.get("BENCH1M_PARTS", "64"))
# "whitespace" (reference parity default) or "standard" (the north-star
# StandardAnalyzer mode; punctuation-stripped lowercased tokens, so term
# stats differ from the whitespace runs — throughput-comparable only)
ANALYZER = os.environ.get("BENCH1M_ANALYZER", "whitespace")
# hot-pair bigram channel (build.py): "0"/unset = off, else the hot-df
# fraction (e.g. "0.05") — the round-5 stopword-phrase acceleration
BIGRAMS = float(os.environ.get("BENCH1M_BIGRAMS", "0") or "0")
TMPFS = os.environ.get(
    "BENCH1M_TMP",
    "/dev/shm" if os.path.isdir("/dev/shm") else tempfile.gettempdir())


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    t_all = time.time()
    work = tempfile.mkdtemp(prefix="bench1m_", dir=TMPFS)
    # BENCH1M_CORPUS_DIR / BENCH1M_LOCAL_DIR name PARENT dirs: the run
    # works in a fresh subdirectory of each and deletes only that, never
    # the user-supplied tree itself
    own = {ext: tempfile.mkdtemp(prefix="bench1m_", dir=os.environ[ext])
           for ext in ("BENCH1M_CORPUS_DIR", "BENCH1M_LOCAL_DIR")
           if os.environ.get(ext)}
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("rucene-bench-1m")
        .config("spark.sql.shuffle.partitions", str(CPUS * 2))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("BENCH1M_DRIVER_MEM", "48g"))
        .config("spark.local.dir",
                own.get("BENCH1M_LOCAL_DIR")
                or os.path.join(work, "spark-local"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    stages: dict[str, float] = {}
    out: dict = {"docs": DOCS, "cpus": CPUS, "stages": stages}

    try:
        # ---- 1. distributed corpus generation
        t0 = time.time()
        per_part = DOCS // N_PARTS
        # At 30M+ docs the html-bearing corpus (~2.1 GiB per 1M docs)
        # no longer fits the RAM-backed tmpfs next to the driver JVM;
        # BENCH1M_CORPUS_DIR points it at real disk while segments and
        # shuffle stay in tmpfs.
        corpus_dir = own.get("BENCH1M_CORPUS_DIR") or os.path.join(
            work, "corpus")

        # BENCH1M_SLIM=1 replaces the html payload with a 1-byte
        # placeholder (schema preserved): the build reads only
        # url/text/lang (Parquet-pruned), so index numbers are
        # unaffected, but the corpus shrinks ~3x — the difference
        # between a 30M-doc probe fitting this host's disk or not.
        slim = os.environ.get("BENCH1M_SLIM") == "1"

        def gen(batches):
            import pandas as pd  # noqa: F401

            from rucene_spark.webtext import make_corpus

            for pdf in batches:
                for pid in pdf["id"].tolist():
                    part = make_corpus(per_part, seed=1000 + int(pid))
                    part["url"] = [
                        f"https://p{int(pid):03d}.example/{i:08x}"
                        for i in range(len(part))
                    ]
                    if slim:
                        part["html"] = [b"\x00"] * len(part)
                    yield part[["url", "warc_ts", "html", "text", "lang"]]

        (spark.range(N_PARTS).repartition(N_PARTS, "id")
         .mapInPandas(gen, "url string, warc_ts timestamp, html binary,"
                           " text string, lang string")
         .write.mode("overwrite").parquet(corpus_dir))
        stages["generate"] = round(time.time() - t0, 2)
        docs = spark.read.parquet(corpus_dir)
        n_docs = docs.count()
        out["docs_actual"] = n_docs
        out["analyzer"] = ANALYZER

        # ---- 2. fresh build
        from rucene_spark.build import IndexWriter
        from rucene_spark.search import IndexSearcher

        idx = os.path.join(work, "idx")
        t0 = time.time()
        writer = IndexWriter(spark, idx, n_segments=N_PARTS, key_col="url",
                             partitioner="hash", analyzer=ANALYZER,
                             bigrams=BIGRAMS or None)
        out["bigrams"] = BIGRAMS or None
        m = writer.build(docs)
        stages["build"] = round(time.time() - t0, 2)
        out["index_docs_per_sec"] = round(n_docs / stages["build"], 1)
        out["terms"] = int(sum(s["terms"] for s in m["segments"]))
        out["postings"] = int(sum(s["postings"] for s in m["segments"]))

        # The corpus lives in tmpfs, which is RAM: at 10M+ docs the
        # html-bearing parquet (~21 GiB) plus the driver JVM heap plus
        # the shuffle dirs brushes the host ceiling (an OOM kill ended
        # one 10M run exactly here).  Everything after the build reads
        # only the url column (delete-victim sampling), so swap the
        # full corpus for a url-only projection and free the rest.
        url_dir = os.path.join(work, "corpus_urls")
        docs.select("url").write.mode("overwrite").parquet(url_dir)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        docs = spark.read.parquet(url_dir)

        # ---- 3. query suite
        from rucene_spark.query import (
            BooleanQuery,
            DisjunctionMaxQuery,
            PhraseQuery,
            SpanNearQuery,
            SpanTermQuery,
            TermQuery,
        )

        # the default verify_candidate_cap (2M) rejects the deliberately
        # adversarial stopword-class span query at >=10M docs — that
        # guardrail working is the tested behavior (test_verify_cap);
        # the bench raises it explicitly to MEASURE the capped path's
        # throughput at corpus scale, per the cap's documented escape
        # hatch (IndexSearcher(verify_candidate_cap=...)).
        searcher = IndexSearcher(spark, idx, scoring="lucene",
                                 verify_candidate_cap=max(2_000_000,
                                                          2 * DOCS))
        hi, mid, lo = "t000000", "t000050", "t002000"

        def make_suite(s):
            return {
                "term_topk": lambda: s.search(
                    TermQuery("text", hi), 10).collect(),
                # stopword-pair phrase: BOTH terms are top-df — the
                # candidate set is corpus-scale, exactly the round-2
                # 'What's wrong #2' adversarial case the vectorized
                # verify must survive
                "stopword_phrase": lambda: s.search(
                    PhraseQuery.build("text", [hi, "t000001"], slop=0),
                    10).collect(),
                "bool_must": lambda: s.search(
                    BooleanQuery.build(
                        [TermQuery("text", hi), TermQuery("text", mid)],
                        [], [], []), 10).collect(),
                "dismax": lambda: s.search(
                    DisjunctionMaxQuery(
                        [TermQuery("text", hi), TermQuery("text", mid)],
                        0.3), 10).collect(),
                "blockmax": lambda: s.search_blockmax(
                    [hi, mid, lo], 10).collect(),
                "span_near": lambda: s.search(
                    SpanNearQuery([SpanTermQuery("text", hi),
                                   SpanTermQuery("text", "t000001")],
                                  slop=3, in_order=True), 10).collect(),
            }

        def run_suite(s, prefix):
            for name, fn in make_suite(s).items():
                # one pathological query must not void a multi-hour run:
                # record the failure and keep benchmarking the rest
                try:
                    fn()  # warm-up
                    # search() memoizes built plans; re-collecting the
                    # cached DataFrame would reuse materialized shuffle
                    # stages and time only the final merge (same honesty
                    # rule as bench.py)
                    s._plan_cache.clear()
                    t0 = time.time()
                    fn()
                    stages[f"{prefix}{name}"] = round(time.time() - t0, 2)
                except Exception as exc:  # noqa: BLE001
                    stages[f"{prefix}{name}"] = -1.0
                    out.setdefault("errors", {})[prefix + name] = \
                        repr(exc)[:300]

        run_suite(searcher, "q_")

        # ---- 4. maintenance: delete ~2% + merge to quiescence + re-query
        from rucene_spark.merge import (
            TieredMergePolicy,
            delete_by_keys,
            maybe_merge,
        )

        victims = [r["url"] for r in
                   docs.select("url").sample(0.02, seed=7).collect()]
        t0 = time.time()
        delete_by_keys(idx, victims)
        stages["delete_2pct"] = round(time.time() - t0, 2)
        t0 = time.time()
        # default 3 tiered merge cycles (each rewrites ~10 segments AND
        # re-runs the global stats aggregation — bounding the count keeps
        # the stage measuring merge throughput, not stats-reagg
        # repetition). BENCH1M_MERGES raises the cap toward true policy
        # quiescence (a 256-partition build converges to ~12 segments,
        # collapsing per-query fixed cost).
        merged = maybe_merge(
            spark, idx,
            TieredMergePolicy(max_merged_segment_bytes=1 << 40,
                              segs_per_tier=4.0),
            max_merges=int(os.environ.get("BENCH1M_MERGES", "3")))
        stages["tiered_merge"] = round(time.time() - t0, 2)
        out["merges_done"] = len(merged)
        out["segments_after"] = len(
            __import__("rucene_spark.build", fromlist=["load_manifest"])
            .load_manifest(idx)["segments"])
        s2 = IndexSearcher(spark, idx, scoring="lucene")
        t0 = time.time()
        n_after = s2.count(TermQuery("text", hi))
        stages["q_term_after_merge"] = round(time.time() - t0, 2)
        out["term_df_after_merge"] = int(n_after)
        # the cold number above folds in one-time post-merge costs (segment
        # re-listing through the storage seam, tombstone resolve/collect,
        # Catalyst compile); a warm repeat isolates the steady-state
        # tombstone-aware cost a serving process would actually pay
        t0 = time.time()
        s2.count(TermQuery("text", hi))
        stages["q_term_after_merge_warm"] = round(time.time() - t0, 2)
        # and a post-merge top-k exercises the collector kernels over the
        # MERGED single-file segment layout (layout guard path)
        t0 = time.time()
        s2.search(TermQuery("text", hi), 10).collect()
        stages["q_term_topk_after_merge"] = round(time.time() - t0, 2)
        # BENCH1M_POSTMERGE_SUITE=1 re-times EVERY query family on the
        # merged layout — the dataset that quantifies what reaching
        # policy quiescence (BENCH1M_MERGES high → few large segments)
        # buys back in per-query fixed cost vs the build's N_PARTS
        # segments. The cap is re-raised because merged dfs are
        # unchanged; tombstones were folded by the merges.
        if os.environ.get("BENCH1M_POSTMERGE_SUITE") == "1":
            s2.verify_candidate_cap = max(2_000_000, 2 * DOCS)
            run_suite(s2, "pm_")

        # ---- 5. IVF at n_cells=256 over 200k vectors
        from rucene_spark.ann import ivf_build, ivf_search

        vec_dir = os.path.join(work, "vecs")

        def gen_vecs(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                for pid in pdf["id"].tolist():
                    rng = np.random.default_rng(500 + int(pid))
                    n = VECS // N_PARTS
                    embs = rng.standard_normal((n, 64)).astype(np.float32)
                    yield pd.DataFrame({
                        "vec_id": np.arange(n, dtype=np.int64)
                        + int(pid) * n,
                        "embedding": list(embs),
                    })

        (spark.range(N_PARTS).repartition(N_PARTS, "id")
         .mapInPandas(gen_vecs, "vec_id long, embedding array<float>")
         .write.mode("overwrite").parquet(vec_dir))
        emb = spark.read.parquet(vec_dir)
        ivf_dir = os.path.join(work, "ivf")
        t0 = time.time()
        ivf_build(emb, ivf_dir, n_cells=CELLS)
        stages[f"ivf_build_{CELLS}"] = round(time.time() - t0, 2)
        q = [float(x) for x in
             emb.filter("vec_id = 11").select("embedding").first()[0]]
        t0 = time.time()
        hits = ivf_search(spark, ivf_dir, q, k=10, nprobe=8).collect()
        stages[f"ivf_probe_8_of_{CELLS}"] = round(time.time() - t0, 2)
        assert hits and hits[0]["vec_id"] == 11  # self is nearest

        out["total_secs"] = round(time.time() - t_all, 2)
        with open(os.path.join(REPO, OUT), "w") as fh:
            json.dump(out, fh, indent=1)
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
        for sub in own.values():
            shutil.rmtree(sub, ignore_errors=True)


if __name__ == "__main__":
    main()
