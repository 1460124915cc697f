"""Spans around the engine's public calls, and Spark event-log attribution.

A `Tracer` patches public methods of the engine's classes with wrappers that
record a span (name, start, end, parent, phase) in memory. Untraced runs
wrap only the batch entry points (`CDCPipeline.apply_batch` / `run_batch`),
whose wall time is the batch-latency metric; traced runs wrap every layer
boundary listed in `LAYER_CALLS`.

Spark jobs are attributed to spans by time: inside `foreachBatch` every job
of a micro-batch is submitted from the stream thread one after another, so
the innermost span whose interval holds a job's submission time is the call
that ran it (a job's call site only names the py4j bridge there).
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from contextlib import contextmanager

from perfbench.common import median

# (module, class, method, span name)
BATCH_CALLS = [
    ("change_data_capturer_ms_spark.streaming.pipeline", "CDCPipeline",
     "apply_batch", "pipeline.apply_batch"),
    ("change_data_capturer_ms_spark.streaming.pipeline", "CDCPipeline",
     "run_batch", "pipeline.run_batch"),
]
LAYER_CALLS = [
    ("change_data_capturer_ms_spark.lake.table", "LakeTable", "merge",
     "table.merge"),
    ("change_data_capturer_ms_spark.lake.table", "LakeTable", "lookup",
     "table.lookup"),
    ("change_data_capturer_ms_spark.lake.table", "LakeTable",
     "read_incremental", "table.read_incremental"),
    ("change_data_capturer_ms_spark.lake.manifest", "ManifestStore", "load",
     "manifest.load"),
    ("change_data_capturer_ms_spark.lake.manifest", "ManifestStore", "commit",
     "manifest.commit"),
    ("change_data_capturer_ms_spark.queue.queue_json", "JsonQueueSink",
     "produce", "queue.produce"),
]


def _batch_result(out) -> dict:
    if not isinstance(out, dict):
        return {}
    return {"skipped": bool(out.get("skipped")),
            "metrics": dict(out.get("metrics") or {})}


class Tracer:
    def __init__(self, detailed: bool):
        self.detailed = detailed
        self.phase = "setup"
        self.spans: list[dict] = []
        self._ids = iter(range(1 << 62))
        self._lock = threading.Lock()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        # a foreachBatch call runs on the stream thread: its parent is the
        # span the main thread has open around run_stream
        outer = stack or self._stacks.get(self._main) or [None]
        with self._lock:
            sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": outer[-1],
               "phase": self.phase, "start": time.time(), "end": None}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.spans.append(rec)

    def install(self) -> None:
        import importlib

        calls = BATCH_CALLS + (LAYER_CALLS if self.detailed else [])
        for mod, cls_name, attr, name in calls:
            cls = getattr(importlib.import_module(mod), cls_name)
            orig = getattr(cls, attr)
            keep = _batch_result if attr == "apply_batch" else None
            setattr(cls, attr, self._wrap(orig, name, keep))
            self._patched.append((cls, attr, orig))

    def _wrap(self, orig, name, keep):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
                if keep is not None:
                    rec["result"] = keep(out)
                return out

        return wrapper

    def uninstall(self) -> None:
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()

    def select(self, name: str, phase: str | None = "timed") -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (phase is None or s["phase"] == phase)]


def durations(spans: list[dict]) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of its interval its children cover."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


# -- Spark event log ----------------------------------------------------------

def read_event_log(event_dir: str) -> dict:
    """Jobs (submission/completion ms, stage ids) and per-stage task metrics
    from an uncompressed, non-rolling Spark event log."""
    paths = [p for p in glob.glob(os.path.join(event_dir, "*"))
             if os.path.isfile(p)]
    jobs: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for p in paths:
        with open(p) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"], "submit": ev["Submission Time"],
                        "stages": list(ev.get("Stage IDs") or [])}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                                 + m.get("Disk Bytes Spilled", 0),
                        "launch": info.get("Launch Time"),
                        "finish": info.get("Finish Time"),
                    })
    return {"jobs": sorted(jobs.values(), key=lambda j: j["submit"]),
            "tasks": tasks}


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> dict[int, int | None]:
    """job id -> id of the innermost span holding its submission time. A
    submission time is whole milliseconds, so it may read up to 1 ms before
    the span that submitted it began."""
    by_start = sorted(spans, key=lambda s: s["start"])
    out: dict[int, int | None] = {}
    for j in jobs:
        t = j["submit"] / 1000.0
        best = None
        for s in by_start:
            if s["start"] > t + 0.001:
                break
            if s["end"] >= t and (best is None or s["start"] >= best["start"]):
                best = s
        out[j["id"]] = None if best is None else best["id"]
    return out


def layer_metrics(tracer: Tracer, log: dict, events: int, apply_wall_s: float,
                  cores: int) -> tuple[dict, dict]:
    """Per-layer metrics of the timed phase, plus the span->job mapping."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def subtree(sid: int) -> set[int]:
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo += [c["id"] for c in kids.get(x, [])]
        return out

    applies = [s for s in tracer.select("pipeline.apply_batch")
               if not (s.get("result") or {}).get("skipped")]
    n_apply = max(len(applies), 1)
    apply_ids = {s["id"] for s in applies}
    apply_tree = set().union(*[subtree(s["id"]) for s in applies]) if applies else set()

    def under(name: str, phase: str | None = "timed") -> list[dict]:
        return [s for s in tracer.select(name, phase) if s["id"] in apply_tree]

    m: dict[str, float] = {}
    m["pipeline.apply_batch_s"] = median(durations(applies))
    m["pipeline.self_s"] = median([self_time(s, kids.get(s["id"], []))
                                   for s in applies])
    # the children of apply_batch run one after another, so per batch
    # self + children reproduces the span; the residual shows it does
    m["pipeline.children_s"] = median(
        [sum(durations(kids.get(s["id"], []))) for s in applies])
    m["pipeline.span_sum_residual_s"] = max(
        (abs((s["end"] - s["start"]) - self_time(s, kids.get(s["id"], []))
             - sum(durations(kids.get(s["id"], [])))) for s in applies),
        default=None)
    m["pipeline.run_batch_s"] = median(durations(
        tracer.select("pipeline.run_batch", "probe")))
    merges = under("table.merge")
    m["table.merge_s"] = median(durations(merges))
    res = [s["result"]["metrics"] for s in applies if s.get("result")]
    res = [r for r in res if r.get("rows")]
    m["table.rows_written_per_row"] = median(
        [r.get("rows_written", 0) / r["rows"] for r in res])
    m["table.buckets_rewritten_frac"] = median(
        [r.get("buckets_rewritten", 0) / r["buckets_total"]
         for r in res if r.get("buckets_total")])
    loads = under("manifest.load")
    m["manifest.loads_per_batch"] = len(loads) / n_apply
    m["manifest.load_s"] = median(durations(loads))
    m["manifest.commit_s"] = median(durations(under("manifest.commit")))
    produces = under("queue.produce") or tracer.select("queue.produce", "probe")
    m["queue.produce_s"] = median(durations(produces))

    mapping: dict[str, list[int]] = {}
    owner = attribute_jobs(spans, log["jobs"])
    jobs_of: dict[int, list[dict]] = {}
    for j in log["jobs"]:
        sid = owner[j["id"]]
        if sid is not None:
            jobs_of.setdefault(sid, []).append(j)
            mapping.setdefault(f"{by_id[sid]['name']}#{sid}", []).append(j["id"])

    def jobs_in(sids) -> list[dict]:
        return [j for sid in sids for j in jobs_of.get(sid, [])]

    timed_jobs = jobs_in(apply_tree)
    m["pipeline.jobs_per_batch"] = len(timed_jobs) / n_apply
    m["pipeline.self_jobs"] = len(jobs_in(apply_ids)) / n_apply
    m["table.merge_jobs"] = len(jobs_in({s["id"] for s in merges})) / max(len(merges), 1)
    prod_tree = set().union(*[subtree(s["id"]) for s in produces]) if produces else set()
    m["queue.produce_jobs"] = len(jobs_in(prod_tree)) / max(len(produces), 1)

    def tasks_of(js):
        # a later job lists the stages it reuses from an earlier one too
        stages = {st for j in js for st in j["stages"]}
        return [t for st in stages for t in log["tasks"].get(st, [])]

    tt = tasks_of(timed_jobs)
    m["spark.shuffle_write_bytes_per_event"] = (
        sum(t["shuffle_write"] for t in tt) / max(events, 1))
    m["spark.spill_bytes"] = sum(t["spill"] for t in tt) / n_apply
    m["spark.executor_cpu_s"] = sum(t["cpu_ns"] for t in tt) / 1e9 / n_apply
    m["spark.jvm_gc_s"] = sum(t["gc_ms"] for t in tt) / 1e3 / n_apply
    m["spark.core_busy_frac"] = (
        sum(t["run_ms"] for t in tt) / 1e3 / max(apply_wall_s * cores, 1e-9))
    skews = []
    for s in merges:
        stages = [st for j in jobs_of.get(s["id"], []) for st in j["stages"]
                  if log["tasks"].get(st)]
        if not stages:
            continue
        heavy = max(stages, key=lambda st: sum(t["run_ms"] for t in log["tasks"][st]))
        runs_ms = [t["run_ms"] for t in log["tasks"][heavy]]
        med = median(runs_ms)
        skews.append(max(runs_ms) / med if med else 1.0)
    m["spark.task_skew"] = median(skews)
    return m, mapping
