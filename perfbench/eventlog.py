"""Per-operation attribution from Spark's event log.

:class:`Tracer` times every benchmark operation and, in a traced run, tags
the Spark jobs it starts with a job group of its own. After the run
:func:`layer_metrics` reads the event log (enabled in traced runs only) and
splits each search operation's wall time into

* ``plan``: driver time until ``search()`` returns the lazy DataFrame, less
  any Spark job that planning ran;
* ``driver``: ``collect()`` wall time less the time in which any job of the
  operation was running (for writes and merges: all of the wall time
  outside jobs);
* ``exec``: time in which a stage of the operation was running;
* ``unattributed``: the rest, i.e. job time outside any stage (job
  scheduling) plus clock rounding.

The four add up to the operation's wall time by construction. Stages are
tied to a layer by their call site (``build.py``, ``merge.py``, ...) and by
the enclosing function of that line in the library source.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import statistics
import time
from contextlib import contextmanager

IDLE_GROUP = "perfbench-idle"


class Tracer:
    def __init__(self, sc, enabled: bool) -> None:
        self.sc = sc
        self.enabled = enabled
        self.ops: list[dict] = []

    @contextmanager
    def op(self, kind: str, name: str = ""):
        rec = {"id": len(self.ops), "kind": kind, "name": name}
        if self.enabled:
            self.sc.setJobGroup(f"op-{rec['id']}", kind)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            rec["wall"] = rec["t1"] - rec["t0"]
            if self.enabled:
                self.sc.setJobGroup(IDLE_GROUP, "")
            self.ops.append(rec)


def _union(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def _lines(paths):
    for p in paths:
        if os.path.basename(p).startswith("appstatus"):
            continue
        with open(p) as fh:
            yield from fh


def read_event_log(work: str):
    """(jobs, stages) parsed from the run's event log. Times in seconds
    since the epoch."""
    paths = [p for p in glob.glob(os.path.join(work, "events", "**"),
                                  recursive=True) if os.path.isfile(p)]
    if not paths:
        raise RuntimeError("no Spark event log was written")
    # a rolling (v2) log is a directory of events_<n>_... parts
    paths.sort(key=lambda p: [int(x) for x in re.findall(
        r"events_(\d+)_", os.path.basename(p))] or [0])
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "callsite": props.get("callSite.short", ""),
                "t0": ev["Submission Time"] / 1e3}
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                "group": props.get("spark.jobGroup.id"),
                "callsite": props.get("callSite.short", ""),
                "name": info["Stage Name"], "tasks": 0, "failed": 0,
                "cpu_s": 0.0, "shuffle_bytes": 0}
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = stages[(info["Stage ID"], info["Stage Attempt ID"])]
            st["t0"] = info["Submission Time"] / 1e3
            st["t1"] = info["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            st = stages.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if st is None:
                continue
            st["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                st["failed"] += 1
            tm = ev.get("Task Metrics") or {}
            st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}
                                    ).get("Shuffle Bytes Written", 0)
    return jobs, [s for s in stages.values() if "t1" in s]


_FUNC_CACHE: dict[str, list] = {}


def callsite_function(callsite: str) -> str:
    """``"collect at /x/build.py:1019"`` -> ``"build.IndexWriter.build"``:
    the library function enclosing the call-site line, so a stage keeps its
    layer when lines move."""
    m = re.search(r"([\w/.\-]+\.py):(\d+)", callsite or "")
    if not m or not os.path.exists(m.group(1)):
        return ""
    path, line = m.group(1), int(m.group(2))
    if path not in _FUNC_CACHE:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        spans = []

        def walk(node, prefix):
            for ch in ast.iter_child_nodes(node):
                if isinstance(ch, (ast.FunctionDef, ast.ClassDef)):
                    name = f"{prefix}.{ch.name}" if prefix else ch.name
                    spans.append((ch.lineno, ch.end_lineno, name))
                    walk(ch, name)
        walk(tree, "")
        _FUNC_CACHE[path] = spans
    mod = os.path.splitext(os.path.basename(path))[0]
    best = ""
    for lo, hi, name in _FUNC_CACHE[path]:
        if lo <= line <= hi:
            best = name  # inner definitions come after their parents
    return f"{mod}.{best}" if best else mod


def attribute(ops: list[dict], jobs: dict, stages: list) -> list[dict]:
    """Per-op plan/driver/exec/unattributed split plus Spark counts."""
    by_group_jobs: dict[str, list] = {}
    for j in jobs.values():
        if "t1" in j:
            by_group_jobs.setdefault(j["group"], []).append(j)
    by_group_stages: dict[str, list] = {}
    for s in stages:
        by_group_stages.setdefault(s["group"], []).append(s)
    out = []
    for op in ops:
        g = f"op-{op['id']}"
        js = by_group_jobs.get(g, [])
        ss = by_group_stages.get(g, [])
        t0, t1 = op["t0"], op["t1"]
        # ops other than searches have no planning mark: all of their
        # driver-side time counts as driver time
        tp = op.get("planned", t0)
        jiv = [(j["t0"], j["t1"]) for j in js]
        siv = [(s["t0"], s["t1"]) for s in ss]
        plan = (tp - t0) - _union(jiv, t0, tp)
        driver = (t1 - tp) - _union(jiv, tp, t1)
        exe = _union(siv, t0, t1)
        out.append(dict(
            op, plan_s=plan, driver_s=driver, exec_s=exe,
            unattributed_s=op["wall"] - plan - driver - exe,
            jobs=len(js), stages=len(ss),
            tasks=sum(s["tasks"] for s in ss),
            cpu_s=sum(s["cpu_s"] for s in ss),
            shuffle_bytes=sum(s["shuffle_bytes"] for s in ss),
            stage_list=ss))
    return out


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def layer_metrics(ctx, res, work: str) -> dict:
    """Every per-layer metric of a traced run: ``{name: (value, unit)}``."""
    import probes

    jobs, stages = read_event_log(work)
    ops = attribute(ctx.tracer.ops, jobs, stages)
    searches = [o for o in ops if o["kind"] == "search"]
    n_q = len(searches)
    m: dict[str, tuple] = {}

    m["query.parse_s"] = (_med(res.parse_s), "s")
    m["search.open_s"] = (_med(o["wall"] for o in ops
                               if o["kind"] == "open"), "s")
    m["search.warmup_s"] = (_med(o["wall"] for o in ops
                                 if o["kind"] == "warmup"), "s")
    for part in ("plan_s", "driver_s", "exec_s", "unattributed_s"):
        m[f"search.{part}"] = (_med(o[part] for o in searches), "s")
    m["search.jobs_per_query"] = (sum(o["jobs"] for o in searches) / n_q,
                                  "count")
    m["search.stages_per_query"] = (
        sum(o["stages"] for o in searches) / n_q, "count")
    m["search.tasks_per_query"] = (sum(o["tasks"] for o in searches) / n_q,
                                   "count")
    m["search.executor_cpu_s_per_query"] = (
        sum(o["cpu_s"] for o in searches) / n_q, "s")
    m["search.shuffle_bytes_per_query"] = (
        sum(o["shuffle_bytes"] for o in searches) / n_q, "B")

    builds = [o for o in ops if o["kind"] == "build"]
    b_stages = [s for o in builds for s in o["stage_list"]]
    m["build.build_s"] = (_med(o["wall"] for o in builds), "s")
    seg_cpu = [sum(s["cpu_s"] for s in o["stage_list"]
                   if callsite_function(s["callsite"])
                   == "build.IndexWriter.build") for o in builds]
    m["build.segment_stage_cpu_s"] = (_med(seg_cpu), "s")
    ts_jobs = [j for j in jobs.values() if "t1" in j
               and j["group"] in {f"op-{o['id']}" for o in builds}
               and callsite_function(j["callsite"]).startswith(
                   "build.write_term_stats")]
    m["build.term_stats_s"] = (
        sum(j["t1"] - j["t0"] for j in ts_jobs) / max(1, len(builds)), "s")
    m["build.shuffle_bytes"] = (
        sum(s["shuffle_bytes"] for s in b_stages) / max(1, len(builds)), "B")
    from workloads import tree_bytes
    m["build.bytes_written"] = (tree_bytes(res.index_dir), "B")

    m["spark.task_failures"] = (sum(s["failed"] for s in stages), "count")
    walls = [o["wall"] for o in searches]
    m["search.wall_s"] = (_med(walls), "s")

    m.update(probes.kernel_probes(res.index_dir, res.corpus_texts))

    res.details["routes"] = res.routes
    res.details["ops"] = [
        [o["kind"], o["name"]] + [round(o[k], 4) for k in (
            "wall", "plan_s", "driver_s", "exec_s", "unattributed_s")]
        for o in ops]
    res.details["family_p50_s"] = {
        fam: _med(t for f, t in res.latencies if f == fam)
        for fam in dict.fromkeys(f for f, _ in res.latencies)}
    res.details["stage_callsites"] = sorted(
        {callsite_function(s["callsite"]) or s["callsite"] for s in stages})
    if "merges" in res.layer:
        merged = res.layer["merges"]
        res.details["merge"] = {
            "merge_s": res.layer["merge_s"],
            "delete_s": _med(res.layer["delete_s"]),
            "merges": len(merged),
            "bytes_rewritten": int(sum(int(r.get("bytes", 0))
                                       for r in merged)),
            "segments_before": res.layer["segments_before"],
            "segments_after": res.layer["segments_after"],
            "tombstones": res.layer["tombstones"]}
    return m
