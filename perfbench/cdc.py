"""The two replay workloads: closed-loop bulk catch-up and open-loop tailing.

Inputs come from the engine's own seeded generator
(``sources.generator.write_fixture``): a base table plus a 16-chunk change
log with add/rename/widen DDL at fixed offsets. The open-loop workload also
rewrites two DML events of one chunk into ``drop_column stars`` followed by
``add_column stars`` — the one DDL order the fused merge cannot take, so that
chunk goes through the sequential segment path.

Correctness is checked independently of the engine: the single-threaded
pandas oracle (``oracle.replay``) computes the expected final state, and the
engine's final table must match it on every column of the final schema.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.host import log

N_CHUNKS = 16
# untraced phases shorter than this are sampled again (see _sampled)
SAMPLE_FLOOR_S = 3.0
MAX_SAMPLES = 5
ORACLE_VERSION = "1"
# the chunk whose two DML events become the drop/re-add burst: after the
# add (40% of the log) and rename (55%), before the widen (70%), so the
# widen applies to the re-added column
BURST_CHUNK = 10


@dataclass
class Fixture:
    base: str
    events: str  # directory of chunk-NNNNN.parquet files
    chunks: list[str]  # file names in seq order
    chunk_seq_hi: list[int]  # last DML seq of each chunk
    n_events: int


def _span(tr, name: str):
    return tr.span(name) if tr is not None else contextlib.nullcontext()


def _ddl_row(template: dict, change) -> dict:
    row = {k: None for k in template}
    row.update(seq=template["seq"], txn_id=template["txn_id"], ts=template["ts"],
               op="DDL", ddl=change.to_json())
    return row


def _rewrite_burst(path: str) -> None:
    """Turn two DML events at 1/3 and 2/3 of the chunk into a drop and a
    re-add of ``stars`` (same seqs, so the log stays gap-free)."""
    from seatunnel_spark.schema import SchemaChange

    tbl = pq.read_table(path)
    rows = tbl.to_pylist()
    n = len(rows)
    dml = [i for i, r in enumerate(rows) if r["op"] != "DDL"]
    i_drop, i_add = dml[len(dml) // 3], dml[2 * len(dml) // 3]
    if not 0 < i_drop < i_add < n - 1:
        raise ValueError(f"burst chunk of {n} rows is too small")
    rows[i_drop] = _ddl_row(rows[i_drop], SchemaChange(kind="drop_column", name="stars"))
    rows[i_add] = _ddl_row(
        rows[i_add], SchemaChange(kind="add_column", name="stars", type="int")
    )
    pq.write_table(pa.Table.from_pylist(rows, schema=tbl.schema), path,
                   row_group_size=65536)


def generate(fx_dir: str, n_base: int, n_events: int, seed: int) -> dict[str, str]:
    """Write a fresh fixture with the engine's generator; this alone is the
    set-up the caller times."""
    from seatunnel_spark.sources import generator as gen

    shutil.rmtree(fx_dir, ignore_errors=True)
    return gen.write_fixture(fx_dir, n_base, n_events, seed=seed, n_event_files=N_CHUNKS)


def finish_fixture(paths: dict[str, str], n_events: int, burst: bool) -> Fixture:
    """Add the DDL burst if asked, order the chunks, and read each chunk's
    last DML seq."""
    chunks = sorted(f for f in os.listdir(paths["events"]) if f.endswith(".parquet"))
    if burst:
        _rewrite_burst(os.path.join(paths["events"], chunks[BURST_CHUNK]))
    # Spark's file stream source takes a backlog in modification-time order;
    # keep that equal to seq order after the rewrite
    t_first = time.time() - len(chunks)
    his = []
    for i, c in enumerate(chunks):
        os.utime(os.path.join(paths["events"], c), (t_first + i, t_first + i))
        t = pq.read_table(os.path.join(paths["events"], c), columns=["seq", "op"])
        seqs = [s for s, op in zip(t["seq"].to_pylist(), t["op"].to_pylist()) if op != "DDL"]
        his.append(max(seqs))
    return Fixture(paths["base"], paths["events"], chunks, his, n_events)


# ------------------------------------------------------------------ oracle

def _canon(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "\x00"
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def _digest_int(s: str) -> int:
    return int(hashlib.sha256(s.encode()).hexdigest()[:15], 16)


def expected_state(fx: Fixture, cache_path: str) -> dict:
    """{"columns", "rows", "digest"} of the oracle's final state, cached per
    fixture identity (workload, seed, sizes) so repeated seeds skip it."""
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            return json.load(fh)
    import pandas as pd

    from seatunnel_spark.oracle import replay

    base = pd.read_parquet(fx.base)
    events = pd.concat(
        [pd.read_parquet(os.path.join(fx.events, c)) for c in fx.chunks],
        ignore_index=True,
    )
    final, cols = replay(base, events)
    digest = sum(
        _digest_int("\x1f".join(_canon(v) for v in row))
        for row in final[cols].itertuples(index=False, name=None)
    )
    out = {"columns": cols, "rows": len(final), "digest": str(digest)}
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    with open(cache_path, "w") as fh:
        json.dump(out, fh)
    return out


def actual_state(spark, table_root: str) -> dict:
    """The engine's final table in the oracle's digest form, computed by
    Spark so only one row comes back to the driver."""
    from pyspark.sql import functions as F

    from seatunnel_spark.lake import LakeTable

    table = LakeTable.load(table_root)
    df = table.scan(spark)
    cols = [f["name"] for f in table.schema_fields()]
    row = F.concat_ws("\x1f", *[
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols
    ])
    part = F.conv(F.substring(F.sha2(row, 256), 1, 15), 16, 10).cast("decimal(38,0)")
    got = df.agg(F.count("*").alias("n"), F.sum(part).alias("d")).collect()[0]
    return {"columns": cols, "rows": int(got["n"]), "digest": str(int(got["d"] or 0))}


# ------------------------------------------------------------------- phases

def _new_job(spark, fx: Fixture, work: str, events_dir: str, buckets: int, fpt: int):
    from seatunnel_spark.streaming.job import CdcIngestJob

    return CdcIngestJob(
        spark,
        table_root=os.path.join(work, "table"),
        events_dir=events_dir,
        checkpoint_dir=os.path.join(work, "ckpt"),
        num_buckets=buckets,
        max_files_per_trigger=fpt,
        total_events=fx.n_events,
    )


def _snapshot(spark, job, fx: Fixture, events_dir: str) -> float:
    from seatunnel_spark.schema import REPO_FIELDS, REPO_KEY, event_schema

    t0 = time.time()
    job.ensure_snapshot(
        spark.read.parquet(fx.base),
        spark.read.schema(event_schema()).parquet(events_dir),
        REPO_FIELDS, REPO_KEY,
        # below one chunk, so the fence window lies in chunk 0
        max_fence=fx.n_events // 20,
    )
    return time.time() - t0


def _sampled(first: float, again) -> float:
    """Median of ``first`` and further samples from ``again()``, taken until
    the samples add up to ``SAMPLE_FLOOR_S`` (at most ``MAX_SAMPLES``), so
    a short phase is measured more than once."""
    samples = [first]
    while sum(samples) < SAMPLE_FLOOR_S and len(samples) < MAX_SAMPLES:
        samples.append(again())
    return statistics.median(samples)


def _extra_snapshot(spark, fx: Fixture, work: str, events_dir: str, buckets: int) -> float:
    """The snapshot phase again, into a table of its own."""
    n = len([d for d in os.listdir(work) if d.startswith("snapshot-")])
    extra = os.path.join(work, f"snapshot-{n}")
    return _snapshot(spark, _new_job(spark, fx, extra, events_dir, buckets, fpt=1), fx, events_dir)


def _scan(spark, table_root: str, tr) -> float:
    """One full read of the final table, run to completion."""
    from seatunnel_spark.lake import LakeTable

    t0 = time.time()
    with _span(tr, "lake.table.scan"):
        LakeTable.load(table_root).scan(spark).write.format("noop").mode(
            "overwrite").save()
    return time.time() - t0


def _commit_times(lineage_dir: str) -> list[tuple[int, float]]:
    """(seq_max, committed_at) per incremental batch, from the lineage table."""
    t = pq.read_table(lineage_dir, columns=["batch_id", "seq_max", "committed_at"])
    by_batch: dict[int, tuple[int, float]] = {}
    for b, hi, at in zip(t["batch_id"].to_pylist(), t["seq_max"].to_pylist(),
                         t["committed_at"].to_pylist()):
        if b < 0 or hi is None:
            continue
        prev = by_batch.get(b)
        ts = at.timestamp()
        by_batch[b] = (max(hi, prev[0]) if prev else hi, ts)
    return sorted(by_batch.values())


def _freshness_ms(fx: Fixture, commits: list[tuple[int, float]], due: list[float]):
    """Per chunk: commit time of the first batch whose seq range reaches the
    chunk's last event, minus the chunk's due time."""
    out = []
    for hi, d in zip(fx.chunk_seq_hi, due):
        at = next(ts for seq_max, ts in commits if seq_max >= hi)
        out.append((at - d) * 1000.0)
    return out


def batch_wall_s(table_root: str) -> float:
    """Sum of the engine's own per-batch wall times, from its metrics table."""
    m = pq.read_table(os.path.join(table_root, "metrics"),
                      columns=["phase", "wall_ms"]).to_pydict()
    return sum(w for p, w in zip(m["phase"], m["wall_ms"]) if p == "incremental") / 1000.0


def replay_bulk_once(spark, fx: Fixture, work: str, buckets: int, tr=None,
                     fpt: int = N_CHUNKS // 2) -> dict:
    """Snapshot, catch up the whole log (two micro-batches), full read."""
    job = _new_job(spark, fx, work, fx.events, buckets, fpt=fpt)
    snap = _snapshot(spark, job, fx, fx.events)
    if tr is None:
        snap = _sampled(snap, lambda: _extra_snapshot(spark, fx, work, fx.events, buckets))
    with _span(tr, "streaming.query"):
        t0 = time.time()
        job.run_incremental(available_now=True, timeout_s=170)
    catchup = time.time() - t0
    # the whole backlog is there when the query starts: each chunk's
    # freshness is how long after that its batch committed
    fresh = _freshness_ms(fx, _commit_times(job.lineage_dir), [t0] * len(fx.chunks))
    depth = _max_stack_depth(job.table_root)
    scan = _scan(spark, job.table_root, tr)
    if tr is None:
        scan = _sampled(scan, lambda: _scan(spark, job.table_root, None))
    return {
        "snapshot_s": snap, "catchup_s": catchup, "scan_s": scan,
        "freshness_ms": fresh,
        "events_per_s": fx.n_events / (snap + catchup),
        "table_root": job.table_root, "late_max_ms": 0.0, "max_stack_depth": depth,
        "arrivals": [t0],
    }


def _max_stack_depth(table_root: str) -> int:
    from seatunnel_spark.lake import LakeTable

    return max(LakeTable.load(table_root).delta_file_counts().values())


class _OpenLoop(threading.Thread):
    """Moves staged chunks into the live log directory at fixed due times,
    whether or not the job has kept up (rename = atomic arrival)."""

    def __init__(self, staged: str, live: str, chunks: list[str], due: list[float]):
        super().__init__(daemon=True)
        self.staged, self.live, self.chunks, self.due = staged, live, chunks, due
        self.late_ms: list[float] = []
        self.arrived: list[float] = []
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            for name, d in zip(self.chunks, self.due):
                wait = d - time.time()
                if wait > 0:
                    time.sleep(wait)
                os.replace(os.path.join(self.staged, name), os.path.join(self.live, name))
                self.arrived.append(time.time())
                self.late_ms.append((self.arrived[-1] - d) * 1000.0)
        except Exception as e:  # reported by the caller after join()
            self.error = e


def stream_steady_once(spark, fx: Fixture, work: str, buckets: int, interval: float,
                       tr=None) -> dict:
    """Snapshot with chunk 0 in the log, then chunks 1..15 arrive every
    ``interval`` seconds and the job tails them one chunk per micro-batch."""
    live = os.path.join(work, "events")
    staged = os.path.join(work, ".staged")
    os.makedirs(live)
    os.makedirs(staged)
    for c in fx.chunks:
        os.link(os.path.join(fx.events, c), os.path.join(staged, c))
    os.replace(os.path.join(staged, fx.chunks[0]), os.path.join(live, fx.chunks[0]))
    job = _new_job(spark, fx, work, live, buckets, fpt=1)
    snap = _snapshot(spark, job, fx, live)
    if tr is None:
        snap = _sampled(snap, lambda: _extra_snapshot(spark, fx, work, live, buckets))
    with _span(tr, "streaming.query"):
        t_query = time.time()
        query = job.run_incremental(available_now=False)
        t0 = time.time()
        due = [t0 + i * interval for i in range(N_CHUNKS)]
        gen = _OpenLoop(staged, live, fx.chunks[1:], due[1:])
        gen.start()
        try:
            gen.join(timeout=N_CHUNKS * interval + 60)
            if gen.is_alive() or gen.error is not None:
                raise RuntimeError(f"open-loop generator failed: {gen.error!r}")
            query.processAllAvailable()
        finally:
            query.stop()
    if query.exception() is not None:
        raise query.exception()
    fresh = _freshness_ms(fx, _commit_times(job.lineage_dir), due)
    depth = _max_stack_depth(job.table_root)
    scan = _scan(spark, job.table_root, tr)
    if tr is None:
        scan = _sampled(scan, lambda: _scan(spark, job.table_root, None))
    # the tail is paced by the schedule, so throughput is taken over the
    # engine's busy time: the snapshot plus its own per-batch wall times
    busy = batch_wall_s(job.table_root)
    return {
        "snapshot_s": snap, "catchup_s": busy, "scan_s": scan,
        "freshness_ms": fresh,
        "events_per_s": fx.n_events / (snap + busy),
        "table_root": job.table_root, "late_max_ms": max(gen.late_ms),
        "max_stack_depth": depth,
        # when each batch's chunk was there: chunk 0 before the query started
        "arrivals": [t_query] + gen.arrived,
    }


def warm_up(spark, fx: Fixture, work: str, buckets: int, fpt: int) -> None:
    """An untimed closed-loop replay, so class loading, JIT and codegen of
    the paths the measurement takes are paid before it."""
    t0 = time.time()
    res = replay_bulk_once(spark, fx, work, buckets, fpt=fpt)
    log(f"warm-up replay done in {time.time() - t0:.1f}s (snapshot {res['snapshot_s']:.1f}s "
        f"catch-up {res['catchup_s']:.1f}s scan {res['scan_s']:.1f}s)")
