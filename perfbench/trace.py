"""Spans around the engine's public calls, and Spark task metrics per span.

Only the traced run uses this. ``instrumented`` wraps each layer's entry
point from outside; every span records (name, start, end, parent) and, while
it is the innermost span, tags the Spark jobs it starts with the job group
``layer:<name>``. The run's uncompressed event log is then folded into task
time, shuffle bytes, spill, output rows and task skew per group. A span's
self time is its duration minus that of its children.

The span stack is shared across threads: the streaming callback runs on
another thread while the main thread waits inside its own span, so at most
one thread opens spans at a time.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import threading
import time
from collections import defaultdict

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._lock = threading.Lock()
        # time spent opening and closing spans, job-group calls included
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.time()
        with self._lock:
            rec = {"name": name, "id": len(self.spans),
                   "parent": self._stack[-1]["id"] if self._stack else None,
                   "start": t_in, "end": None, "result": None, "files": 0}
            self.spans.append(rec)
            self._stack.append(rec)
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"layer:{name}")
        cost = time.time() - t_in
        try:
            yield rec
        finally:
            t_out = time.time()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                rec["end"] = time.time()
                self._stack.remove(rec)
                self.overhead_s += cost + rec["end"] - t_out

    def current(self) -> dict | None:
        return self._stack[-1] if self._stack else None


@contextlib.contextmanager
def instrumented(tr: Tracer):
    """Wrap the layer entry points for the duration of the block."""
    from seatunnel_spark.lake import merge as merge_mod
    from seatunnel_spark.lake.table import LakeTable
    from seatunnel_spark.streaming import job as job_mod

    def spanned(fn, name):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with tr.span(name) as rec:
                rec["result"] = res = fn(*args, **kwargs)
                return res
        return inner

    def counted(fn):
        @functools.wraps(fn)
        def inner(*args, **kwargs):
            res = fn(*args, **kwargs)
            if tr.current() is not None:
                tr.current()["files"] += sum(len(v) for v in res.values())
            return res
        return inner

    targets = [
        (job_mod, "run_snapshot_phase", spanned, "operators.snapshot"),
        (job_mod.CdcIngestJob, "_apply_batch", spanned, "streaming.job"),
        (job_mod, "_append_parquet", spanned, "streaming.job.side_tables"),
        (job_mod, "merge_into", spanned, "lake.merge"),
        (merge_mod, "maybe_compact", spanned, "lake.merge.compact"),
        (merge_mod, "_write_bucketed", None, None),
        (LakeTable, "commit_snapshot", spanned, "lake.table.commit"),
        (LakeTable, "update_schema", spanned, "lake.table.commit"),
    ]
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _, _ in targets]
    try:
        for owner, attr, how, name in targets:
            fn = getattr(owner, attr)
            setattr(owner, attr, how(fn, name) if how else counted(fn))
        yield tr
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


# ------------------------------------------------------------ event log

def _group_stats() -> dict:
    return {"task_ms": 0.0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
            "rows_written": 0, "stages": defaultdict(list)}


def task_metrics(event_log_dir: str, root: dict) -> dict[str, dict]:
    """Job group -> summed task metrics of the jobs submitted inside the
    ``root`` span, from every event log file below ``event_log_dir`` (plain
    JSON lines)."""
    lo, hi = root["start"] * 1000.0, root["end"] * 1000.0
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(_group_stats)
    files = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(event_log_dir) for f in fs
        if not f.startswith(".")
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not lo <= ev.get("Submission Time", 0) <= hi:
                        continue
                    g = (ev.get("Properties") or {}).get(GROUP_KEY) or "other"
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    g = groups[stage_group[ev["Stage ID"]]]
                    dur = info["Finish Time"] - info["Launch Time"]
                    g["task_ms"] += dur
                    g["stages"][ev["Stage ID"]].append(dur)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    g["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    g["spill"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
                    g["rows_written"] += (m.get("Output Metrics") or {}).get(
                        "Records Written", 0)
    return groups


def _skew(g: dict) -> float:
    """max/median task time of the group's stage with the most task time."""
    stages = [d for d in g["stages"].values() if len(d) > 1]
    if not stages:
        return 1.0
    durs = max(stages, key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


# ------------------------------------------------------------ per layer

def self_ms(spans: list[dict]) -> dict[int, float]:
    child: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"] - child[s["id"]]) * 1000.0 for s in spans}


def idle_ms(spans: list[dict], arrivals: list[float]) -> float:
    """Time inside the streaming query with no batch running and the next
    batch's chunk not yet there: the open loop's wait for its schedule.
    Batch k reads the chunk that arrived at ``arrivals[k]`` (the last entry
    stands for every later batch)."""
    batches = sorted((s for s in spans if s["name"] == "streaming.job"),
                     key=lambda s: s["start"])
    query = next(s for s in spans if s["name"] == "streaming.query")
    prev_end, idle = query["start"], 0.0
    for k, b in enumerate(batches):
        ready = arrivals[min(k, len(arrivals) - 1)]
        idle += max(0.0, min(ready, b["start"]) - prev_end)
        prev_end = b["end"]
    return idle * 1000.0


def layer_metrics(spans: list[dict], groups: dict[str, dict], n_cores: int,
                  arrivals: list[float], heads: list[str]) -> dict:
    """The layers' metrics from one traced iteration; ``heads`` names every
    entry query that has metrics, run here or not."""
    own = self_ms(spans)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(ss):
        return sum(s["end"] - s["start"] for s in ss) * 1000.0

    def self_sum(name):
        return sum(own[s["id"]] for s in named(name))

    def grp(name):
        return groups.get(f"layer:{name}", _group_stats())

    def util(task_ms, wall_ms):
        return task_ms / (wall_ms * n_cores) if wall_ms > 0 else 0.0

    batches = named("streaming.job")
    merges_per_batch = [
        sum(1 for s in named("lake.merge") if s["parent"] == b["id"]) for b in batches
    ]
    compactions = [s for s in named("lake.merge.compact") if s["result"]]
    snap, merge, scan = (grp("operators.snapshot"), grp("lake.merge"),
                         grp("lake.table.scan"))
    snap_ms, merge_ms = self_sum("operators.snapshot"), self_sum("lake.merge")
    out = {
        "operators.snapshot.wall_ms": (dur(named("operators.snapshot")), "ms"),
        "operators.snapshot.task_ms": (snap["task_ms"], "ms"),
        "operators.snapshot.shuffle_bytes": (snap["shuffle_write"], "B"),
        "operators.snapshot.core_util": (util(snap["task_ms"], snap_ms), "ratio"),
        "streaming.job.batches": (len(batches), "count"),
        "streaming.job.batch_ms": (
            statistics.median(s["end"] - s["start"] for s in batches) * 1000.0
            if batches else 0.0, "ms"),
        "streaming.job.metadata_ms": (self_sum("streaming.job"), "ms"),
        "streaming.job.segment_merges": (sum(merges_per_batch), "count"),
        "streaming.job.fallback_batches": (
            sum(1 for n in merges_per_batch if n > 1), "count"),
        "streaming.job.side_tables_ms": (dur(named("streaming.job.side_tables")), "ms"),
        # query start/stop and the time from "previous batch done and its
        # chunk there" to the next batch's start; not the schedule's idle wait
        "streaming.job.trigger_gap_ms": (
            self_sum("streaming.query") - idle_ms(spans, arrivals), "ms"),
        "lake.merge.write_ms": (merge_ms, "ms"),
        "lake.merge.task_ms": (merge["task_ms"], "ms"),
        "lake.merge.shuffle_write_bytes": (merge["shuffle_write"], "B"),
        "lake.merge.spill_bytes": (merge["spill"], "B"),
        "lake.merge.task_skew": (_skew(merge), "ratio"),
        "lake.merge.core_util": (util(merge["task_ms"], merge_ms), "ratio"),
        "lake.merge.rows_written": (merge["rows_written"], "count"),
        "lake.merge.files_written": (sum(s["files"] for s in named("lake.merge")), "count"),
        "lake.merge.compactions": (len(compactions), "count"),
        "lake.merge.compact_ms": (dur(compactions), "ms"),
        "lake.merge.compact_rows": (grp("lake.merge.compact")["rows_written"], "count"),
        "lake.table.commits": (
            sum(1 for s in named("lake.table.commit") if s["result"]), "count"),
        "lake.table.commit_ms": (dur(named("lake.table.commit")), "ms"),
        "lake.table.scan_ms": (dur(named("lake.table.scan")), "ms"),
        "lake.table.scan_task_ms": (scan["task_ms"], "ms"),
        "lake.table.scan_shuffle_bytes": (scan["shuffle_write"] + scan["shuffle_read"], "B"),
    }
    for h in heads:
        g = grp(f"entry_queries.{h}")
        out.update({
            f"entry_queries.{h}.wall_ms": (dur(named(f"entry_queries.{h}")), "ms"),
            f"entry_queries.{h}.task_ms": (g["task_ms"], "ms"),
            f"entry_queries.{h}.shuffle_bytes": (g["shuffle_write"] + g["shuffle_read"], "B"),
        })
    return out


def coverage(spans: list[dict], groups: dict[str, dict], root_id: int,
             arrivals: list[float], overhead_s: float) -> dict:
    """How much of the traced wall time and task time no layer claims, and
    the share of the wall time spent in the tracer's own span bookkeeping
    (the event log's writing is not in it); the open loop's idle wait is
    left out of the wall time."""
    own = self_ms(spans)
    root = spans[root_id]
    wall = (root["end"] - root["start"]) * 1000.0 - idle_ms(spans, arrivals)
    root_group = f"layer:{root['name']}"
    total_task = sum(g["task_ms"] for g in groups.values())
    unclaimed = sum(g["task_ms"] for k, g in groups.items()
                    if k == root_group or not k.startswith("layer:"))
    return {
        "trace.unattributed_pct": (100.0 * own[root_id] / wall, "%"),
        "trace.overhead_pct": (100.0 * overhead_s * 1000.0 / wall, "%"),
        "trace.unattributed_task_pct": (
            100.0 * unclaimed / total_task if total_task else 0.0, "%"),
    }
