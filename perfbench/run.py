#!/usr/bin/env python3
"""The engine's benchmark: one command, named workloads, checked results.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Runs from any working directory against the ``rucene_spark`` package of the
checkout that holds this file. Inputs come from ``--seed`` only. Corpora,
indexes, the Spark local dir and the event log live in one work directory the
benchmark creates under the checkout and deletes at exit. The last line of
standard output is the result, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, read from Spark's event log and from kernel probes. The line
before it holds details that have no place in the result (the tail
percentile, the route record, workload-specific numbers).

``--record 1`` runs the workload's fixed op list without a time window and
stores its results as the expected results for the seed (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "nrt_ingest")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark(work: str, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (SparkSession.builder.master("local[4]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "2g")
         .config("spark.local.dir", os.path.join(work, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"))
    if trace:
        ev = os.path.join(work, "events")
        os.makedirs(ev)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + ev)
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended
    (closing the gateway's stdin is what ends the JVM; ``SparkSession.stop``
    alone leaves it running)."""
    from pyspark import SparkContext

    from rss import descendants

    started = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        SparkContext._gateway = None
        SparkContext._jvm = None
    _wait_ended(started)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    if state == "Z":  # ended; reap it if it is our child
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass
        return False
    return True


def _wait_ended(pids: list[int], timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    while any(_alive(p) for p in pids):
        time.sleep(0.1)


def _op_summary(ops) -> None:
    """Per-kind op count and seconds, to standard error."""
    by: dict[str, list] = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["wall"])
    print("ops: " + ", ".join(f"{k} {len(v)}x {sum(v):.2f}s"
                              for k, v in by.items()), file=sys.stderr)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "rucene_spark")):
        print(f"perfbench: no rucene_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    os.makedirs(os.path.join(work, "tmp"))
    # Spark's Python workers import the package from the checkout; TMPDIR
    # keeps every temp file of this process tree inside the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import probes
    import workloads
    from rss import RssSampler

    # a terminated run still stops Spark and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sampler = RssSampler(os.getpid())
    sampler.start()
    spark = None
    try:
        calib_before = probes.calibrate()
        # the JVM starts while this process generates the inputs
        pool = ThreadPoolExecutor(1)
        starting = pool.submit(_spark, work, bool(args.trace))
        try:
            inputs = workloads.INPUTS[args.workload](args.seed)
        finally:
            spark = starting.result()
            pool.shutdown()
        ctx = workloads.Context(spark, work, args.seed, args.seconds,
                                trace=bool(args.trace),
                                record=bool(args.record))
        res = workloads.RUNS[args.workload](ctx, inputs)
        _op_summary(ctx.tracer.ops)
        if args.record:
            from check import save_expected
            save_expected(args.workload, args.seed, res.recorded)
            print(f"recorded {len(res.recorded)} results for seed "
                  f"{args.seed}", file=sys.stderr)
            return 0
        for op_id, problems in res.problems:
            print(f"perfbench: FAILED {op_id}: {problems}", file=sys.stderr)
        _stop(spark)
        spark = None
        calib_after = probes.calibrate()
        res.details["host.calibration_s"] = {"before": calib_before,
                                             "after": calib_after}
        res.details["failed_ratio"] = res.failed / res.attempted
        peak_gb = sampler.stop() / 1e9
        if args.trace:
            import eventlog
            metrics = eventlog.layer_metrics(ctx, res, work)
            metrics["host.calibration_s"] = (calib_before, "s")
            metrics["host.calibration_after_s"] = (calib_after, "s")
        else:
            metrics = dict(res.metrics)
            metrics["peak_rss_gb"] = (peak_gb, "GB")
        print(json.dumps({"details": res.details}, sort_keys=True,
                         default=str))
        out = {"correct": res.failed == 0, "attempted": res.attempted,
               "failed": res.failed,
               "metrics": {k: {"value": v, "unit": u}
                           for k, (v, u) in metrics.items()}}
        print(json.dumps(out), flush=True)
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
