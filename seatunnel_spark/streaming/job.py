"""The CDC ingest job: snapshot → incremental, exactly-once, DDL-aligned.

Orchestration mirrors the reference's hybrid source state machine
(IncrementalSource.java:195-232 → HybridSplitAssigner: snapshot splits, then
one incremental split starting at the recorded watermarks), re-expressed as:

  phase A  one declarative batch job (operators/snapshot.py), committing the
           normalized initial state + per-chunk fences atomically;
  phase B  Structured Streaming over the event log with ``foreachBatch``:
           fence filter (shouldEmit, IncrementalSourceStreamFetcher:273-303)
           → each DDL applied as its own metadata commit ``b{batch}.d{seq}.{i}``
           that records the seq at which it re-binds wire fields
           → ONE LWW reduce + MERGE commit ``b{batch}.s0`` of the whole batch,
           every event projected with the columns bound at its own seq. That
           is the row set SeaTunnel's split at DDL offsets produces
           (splitSchemaChangeStream:152-236, checkpoint types
           SCHEMA_CHANGE_BEFORE/AFTER, CheckpointType.java:23-35) without a
           merge job per segment.

Exactly-once: Structured Streaming replays an unacknowledged micro-batch
with the same batch_id after restart; the epoch ids are a pure function of
the batch contents, so every commit re-derives the same id and the lake's
epoch ledger skips the ones already applied — SeaTunnel's checkpoint-ack +
SinkAggregatedCommitter contract (CheckpointCoordinator.java:687-741,
SinkFlowLifeCycle.java:155-241) without a coordinator process.

Lineage + metrics (BASELINE requirement; reference metric names
MetricNames.java:28-32, CDCRecordFetchDelay/EmitDelay
IncrementalSourceRecordEmitter.java:59-60) are appended per batch:
per-partition source offset ranges + applied txn ids, and
events/sec + lag.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seatunnel_spark.lake.merge import merge_into
from seatunnel_spark.lake.table import LakeTable
from seatunnel_spark.operators.snapshot import (
    default_fences,
    fence_map_expr,
    run_snapshot_phase,
)
from seatunnel_spark.schema import OP_DDL, event_schema, parse_change

_LINEAGE_ARROW_SCHEMA = None
_METRICS_ARROW_SCHEMA = None


def _arrow_schemas():
    import pyarrow as pa

    global _LINEAGE_ARROW_SCHEMA, _METRICS_ARROW_SCHEMA
    if _LINEAGE_ARROW_SCHEMA is None:
        _LINEAGE_ARROW_SCHEMA = pa.schema(
            [
                ("partition_id", pa.int32()),
                ("seq_min", pa.int64()),
                ("seq_max", pa.int64()),
                ("txn_ids", pa.list_(pa.int64())),
                ("n_events", pa.int64()),
                ("batch_id", pa.int64()),
                ("committed_at", pa.timestamp("us", tz="UTC")),
            ]
        )
        _METRICS_ARROW_SCHEMA = pa.schema(
            [
                ("batch_id", pa.int64()),
                ("events_applied", pa.int64()),
                ("events_per_sec", pa.float64()),
                ("lag_events", pa.int64()),
                ("wall_ms", pa.int64()),
                ("phase", pa.string()),
                # reference metric parity: CDCRecordFetchDelay/EmitDelay
                # (IncrementalSourceRecordEmitter.java:59-60) — age of the
                # batch's freshest event at fetch time / at commit time
                ("fetch_delay_ms", pa.int64()),
                ("emit_delay_ms", pa.int64()),
            ]
        )
    return _LINEAGE_ARROW_SCHEMA, _METRICS_ARROW_SCHEMA


def _now_us():
    from datetime import datetime, timezone

    return datetime.now(timezone.utc)


def _append_parquet(dir_path: str, columns: dict, schema) -> None:
    """Driver-side atomic-enough append of a tiny side-table row group."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dir_path, exist_ok=True)
    lineage_schema, metrics_schema = _arrow_schemas()
    schema = lineage_schema if schema == "lineage" else metrics_schema
    table = pa.table(columns, schema=schema)
    pq.write_table(table, os.path.join(dir_path, f"part-{uuid.uuid4().hex}.parquet"))


def project_to_table_schema(table: LakeTable, events: DataFrame) -> DataFrame:
    """Project wire-format events onto the table's *current* schema.

    The stream's wire schema never changes (post-DDL fields ride in the
    ``extra`` JSON map — SURVEY §1.2 superset-struct strategy). Columns bind
    by **column id** via the table's wire_bindings, so a renamed table column
    keeps receiving its original wire field — the same id-based binding
    Iceberg uses for files, applied to the stream.

    A binding made by an ``add_column`` at seq ``s`` is live only for
    ``seq > s``, and a binding whose wire name was re-bound at seq ``s``
    only for ``seq <= s`` (``wire_bounds``, LakeTable.update_schema). So
    one projection onto the batch's final schema is exact for every DDL
    order: each event reads the columns as they were bound at its own seq.
    The intervals are half-open ``(from, to]``: a DML event whose seq EQUALS
    a DDL's seq applies before that DDL. The native log has unique seqs;
    queue wires order by timestamp (canal ts / mongo clusterTime), where a
    row and an ALTER can share a tick. Unbounded bindings project as the
    plain wire column.
    """
    bound = {cid: (wire, None, None) for wire, cid in table.meta["wire_bindings"].items()}
    for cid, b in table.meta.get("wire_bounds", {}).items():
        bound[int(cid)] = (b["wire"], b["from"], b["to"])
    wire_cols = set(events.columns)
    cols = []
    for f in table.schema_fields():
        wname, lo, hi = bound.get(f["id"], (None, None, None))
        if wname in wire_cols:
            val = F.col(wname)
        elif wname and "extra" in wire_cols:
            val = F.get_json_object(F.col("extra"), f"$.{wname}")
        else:
            cols.append(F.lit(None).cast(f["type"]).alias(f["name"]))
            continue
        if lo is not None:
            val = F.when(F.col("seq") > lo, val)
        if hi is not None:
            val = F.when(F.col("seq") <= hi, val)
        cols.append(val.cast(f["type"]).alias(f["name"]))
    return events.select(*cols, "op", "seq")


class CdcIngestJob:
    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        events_dir: str,
        checkpoint_dir: str,
        num_buckets: int = 16,
        max_files_per_trigger: int = 2,
        total_events: int | None = None,
        exactly_once: bool = True,
        wire_format: str = "parquet-events",
        wire_row_schema=None,
        broker: dict | None = None,
        broadcast_winners_max_events: int = 250_000,
    ):
        """``wire_format``: 'parquet-events' (the native typed log) or a
        queue value format — 'debezium-json' / 'canal-json' — in which case
        ``events_dir`` holds text files of one JSON envelope per line (the
        Kafka value shape) and ``wire_row_schema`` (StructType) types the
        row images. ``broker`` switches the queue transport from the
        file-backed stand-in to a real Kafka topic (sources/kafka.py option
        seam: bootstrap_servers/topic/start_mode...); everything downstream
        of the first readStream line is identical.

        Seq-uniqueness contract: with 'parquet-events', ``seq`` in
        ``events_dir`` is the log offset and must be unique across the whole
        log (one event per offset, like a binlog position). The merge relies
        on it to drop the LWW tie-break (``lww_reduce(unique_order=True)``);
        two events of one key sharing a seq would both be committed. The
        queue formats order by envelope timestamp, where ties are real, so
        they keep the tie-break (``_unique_order`` is False)."""
        self.spark = spark
        self.table_root = table_root
        self.events_dir = events_dir
        self.checkpoint_dir = checkpoint_dir
        self.num_buckets = num_buckets
        self.max_files_per_trigger = max_files_per_trigger
        self.total_events = total_events
        self.exactly_once = exactly_once
        # gate for lww_reduce(broadcast_winners=...): a batch at or under
        # this many events broadcasts its narrow winner set so the wide
        # exchange carries only winning rows; above it (or 0 to disable)
        # the winners stay on the shuffled path — winners are batch-bounded
        # and an unbounded broadcast is a driver/executor OOM at scale.
        # Default is deliberately small: measured at ~1M winners/batch the
        # blocking broadcast materialization COSTS more than the shuffle it
        # saves (4-core 8M-event replay: 99s vs 81s) — the win case is
        # high-churn/few-keys batches where winners << events.
        self.broadcast_winners_max_events = broadcast_winners_max_events
        self.wire_format = wire_format
        self.wire_row_schema = wire_row_schema
        self.broker = broker
        # the native typed log's seq IS the log offset — unique by
        # construction (binlog-position analog), so the LWW reduce can drop
        # its tie-break machinery (lww_reduce(unique_order=...) docstring).
        # Queue wire formats order by envelope timestamp where ties are real.
        self._unique_order = wire_format == "parquet-events"
        self.lineage_dir = os.path.join(table_root, "lineage")
        self.metrics_dir = os.path.join(table_root, "metrics")
        self._events_applied = 0

    # ------------------------------------------------------------ phase A
    def ensure_snapshot(
        self,
        base: DataFrame,
        events: DataFrame,
        fields: list[tuple[str, str]],
        key: list[str],
        max_fence: int = 0,
        fences: dict[int, int] | None = None,
    ) -> LakeTable:
        if LakeTable.exists(self.table_root):
            table = LakeTable.load(self.table_root)
        else:
            table = LakeTable.create(self.table_root, fields, key, self.num_buckets)
        # Fences must cover the TABLE's buckets, not the job's configured
        # count — pointing a job with a different num_buckets at an existing
        # table must not leave buckets unfenced (they'd be dropped forever).
        fences = fences or default_fences(table.num_buckets, max_fence)
        assert set(fences) == set(range(table.num_buckets)), (
            f"fence map covers buckets {sorted(fences)} but table has "
            f"{table.num_buckets} buckets"
        )
        t0 = time.time()
        stats = run_snapshot_phase(
            self.spark, table, base, events, fences,
            unique_order=self._unique_order,
        )
        if not stats.get("skipped"):
            self._write_lineage_snapshot(table, fences)
            self._write_metrics(
                batch_id=-1,
                phase="snapshot",
                events_applied=stats.get("batch_rows", 0),
                wall_ms=int((time.time() - t0) * 1000),
            )
        return table

    # ------------------------------------------------------------ phase B
    def resolve_timestamp(self, start_ts) -> int | None:
        """StartupMode TIMESTAMP → log offset: the smallest seq whose event
        time is >= start_ts, with ONE bounded batch query over the log
        (reference: StartupMode.java TIMESTAMP; the MySQL source resolves a
        timestamp to a binlog offset by scanning binlog file metadata —
        BinlogOffset.ofTimestampSec). The log is seq-ordered and ts is
        monotone with seq, so min(seq | ts >= t) is the exact resume point;
        the `ts >= t` predicate pushes down to parquet row-group stats, so
        the scan touches only the log tail. Returns None when no event is at
        or after the timestamp (nothing to replay).

        Queue wire formats resolve the same way over a bounded read of the
        file-backed changelog (ts comes from the envelope's ts_ms); on a
        real broker you'd use its timestamp index instead (Kafka
        ``offsetsForTimes``) — same contract, broker-side."""
        row = (
            self._bounded_log()
            .where(F.col("ts") >= F.lit(start_ts))
            .agg(F.min("seq").alias("s"))
            .collect()[0]
        )
        return int(row["s"]) if row["s"] is not None else None

    def _bounded_log(self) -> DataFrame:
        """One batch-mode view of the event log, any wire format."""
        if self.wire_format == "parquet-events":
            return self.spark.read.schema(event_schema()).parquet(self.events_dir)
        from seatunnel_spark.sources.queue import read_changelog_batch

        return read_changelog_batch(
            self.spark, self.events_dir, self.wire_format, self.wire_row_schema
        )

    def resolve_specific_offset(self, offset) -> int | None:
        """StartupMode SPECIFIC_OFFSET with native binlog coordinates
        (reference SourceOptions.java:55-66 ``startup.specific-offset.file``
        / ``.pos``): resolve a dialect ``BinlogOffset`` to this engine's seq
        scale — the smallest seq at-or-after (file, pos) on the debezium
        wire, whose envelopes carry ``source.file``/``source.pos``. One
        bounded two-column parse + min() aggregate, mirroring the timestamp
        resolve; the streaming path itself stays on seq. Other wire formats
        don't carry binlog coordinates and refuse loudly (the reference's
        SPECIFIC_OFFSET is likewise a MySQL-dialect mode)."""
        if self.wire_format != "debezium-json":
            raise ValueError(
                "specific-offset (file/pos) startup needs the debezium-json "
                f"wire format, not {self.wire_format!r} — use start_seq / "
                "start_ts instead"
            )
        from seatunnel_spark.offsets import resolve_binlog_start_seq
        from seatunnel_spark.sources.formats import parse_debezium_with_position

        raw = self.spark.read.text(self.events_dir)
        parsed = parse_debezium_with_position(raw, self.wire_row_schema)
        return resolve_binlog_start_seq(parsed, offset)

    def resolve_stop_timestamp(self, stop_ts) -> int | None:
        """StopMode TIMESTAMP → the largest seq whose event time is
        <= stop_ts (the reference's binlog task self-terminates once it
        reads past the stop timestamp). One bounded query, same pushdown
        as resolve_timestamp; works on all wire formats like its start
        twin."""
        row = (
            self._bounded_log()
            .where(F.col("ts") <= F.lit(stop_ts))
            .agg(F.max("seq").alias("s"))
            .collect()[0]
        )
        return int(row["s"]) if row["s"] is not None else None

    def run_incremental(
        self,
        available_now: bool = True,
        timeout_s: float | None = None,
        start_seq: int | None = None,
        stop_seq: int | None = None,
        start_ts=None,
        stop_ts=None,
    ):
        """Tail the event log from the snapshot fences (min-high start, per
        reference IncrementalSplitAssigner.createIncrementalSplit:198-257).

        Startup/stop modes (reference option/StartupMode.java, StopMode.java):
        INITIAL = ensure_snapshot() then this; EARLIEST = skip the snapshot
        (empty fences) and stream from seq 0; SPECIFIC_OFFSET = ``start_seq``;
        TIMESTAMP = ``start_ts`` (datetime or ISO string), resolved to a seq
        by resolve_timestamp() with one log query; StopMode SPECIFIC =
        ``stop_seq`` (bounded replay — the reference's binlog task
        self-terminates at the stop offset,
        MySqlBinlogFetchTask.handleEvent:138-163); availableNow = StopMode
        LATEST. Filters compose with the per-chunk fences.
        """
        if start_ts is not None:
            if start_seq is not None:
                raise ValueError("pass start_seq or start_ts, not both")
            start_seq = self.resolve_timestamp(start_ts)
            if start_seq is None:
                # nothing at/after the timestamp: empty bounded replay
                start_seq = (1 << 62)
        if stop_ts is not None:
            if stop_seq is not None:
                raise ValueError("pass stop_seq or stop_ts, not both")
            stop_seq = self.resolve_stop_timestamp(stop_ts)
            if stop_seq is None:
                stop_seq = -1  # nothing at/before the timestamp: emit nothing
        self._start_seq = start_seq
        self._stop_seq = stop_seq
        if self.wire_format == "parquet-events":
            stream = (
                self.spark.readStream.schema(event_schema())
                .option("maxFilesPerTrigger", self.max_files_per_trigger)
                .parquet(self.events_dir)
            )
        else:
            from seatunnel_spark.sources.queue import read_changelog_stream

            stream = read_changelog_stream(
                self.spark,
                self.events_dir,
                self.wire_format,
                self.wire_row_schema,
                self.max_files_per_trigger,
                broker=self.broker,
            )
        writer = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName("cdc-ingest")
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            q.awaitTermination(timeout_s)
            if q.isActive:
                q.stop()
            if q.exception() is not None:
                raise q.exception()
            return q
        return writer.start()

    # ------------------------------------------------------- foreachBatch
    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        t0 = time.time()
        table = LakeTable.load(self.table_root)
        fences = {int(b): int(w) for b, w in table.meta["properties"].get("fences", {}).items()}
        if getattr(self, "_start_seq", None) is not None:
            batch = batch.where(F.col("seq") >= self._start_seq)
        if getattr(self, "_stop_seq", None) is not None:
            batch = batch.where(F.col("seq") <= self._stop_seq)

        # The batch is never persisted: it is a parquet file set, so every
        # pass is a pruned scan. Per batch exactly TWO passes run:
        #   1. one narrow metadata pass (no `content`) that produces the
        #      lineage rows, the applied-event count AND the DDL offsets;
        #   2. one merge pass, which reads the wide columns once.
        is_ddl = F.col("op") == OP_DDL
        # Any bucket missing from the fence map falls back to fence 0 (emit):
        # `seq >= NULL` would be NULL and silently drop those events forever.
        fence_ok = (
            F.col("seq")
            >= F.coalesce(
                fence_map_expr(fences)[table.bucket_expr()], F.lit(0).cast("long")
            )
            if (fences and self.exactly_once)
            else F.lit(True)
        )
        visible = batch.where(is_ddl | fence_ok)

        meta_rows = (
            visible.groupBy(F.spark_partition_id().alias("partition_id"))
            .agg(
                F.min(F.when(~is_ddl, F.col("seq"))).alias("seq_min"),
                F.max(F.when(~is_ddl, F.col("seq"))).alias("seq_max"),
                F.collect_set(F.when(~is_ddl, F.col("txn_id"))).alias("txn_ids"),
                F.count(F.when(~is_ddl, F.lit(1))).alias("n_events"),
                F.max(F.when(~is_ddl, F.col("ts"))).alias("ts_max"),
                F.collect_list(
                    F.when(is_ddl, F.struct(F.col("seq"), F.col("ddl")))
                ).alias("ddls"),
            )
            .collect()
        )
        ddls = sorted(
            (d["seq"], d["ddl"])
            for r in meta_rows
            for d in r["ddls"]
            # a DDL row with a null payload is a malformed envelope — skip it
            # rather than crash the stream (the reference's resolver likewise
            # ignores DDL kinds it does not support)
            if d is not None and d["ddl"] is not None
        )
        seq_mins = [r["seq_min"] for r in meta_rows if r["seq_min"] is not None]
        seq_maxs = [r["seq_max"] for r in meta_rows if r["seq_max"] is not None]
        batch_lo = min(seq_mins) if seq_mins else None
        batch_hi = max(seq_maxs) if seq_maxs else None

        # DDLs first, then ONE merge of the whole batch. Schema updates are
        # metadata-only commits that record the seq at which each wire
        # binding changes, so projecting every event onto the final schema
        # reads each column as it was bound at that event's own seq
        # (project_to_table_schema) — the same rows SeaTunnel's split at DDL
        # offsets produces (splitSchemaChangeStream), with O(1) merge jobs
        # per batch instead of O(#DDLs). A replay that finds the DDL epochs
        # already committed projects identically: the bounds live in table
        # metadata, not in this batch.
        any_applied = False  # epoch guard: replayed batches must not re-append
        for i, (s, payload) in enumerate(ddls):
            # epoch id carries the DDL's index too: on the queue paths seq is
            # timestamp-derived, so two DDLs can share a seq — a seq-only id
            # would treat the second as already applied. ddls is sorted by
            # (seq, payload), so the index is stable across replays.
            applied = table.update_schema(
                parse_change(payload), epoch_id=f"b{batch_id}.d{s}.{i}", seq=s
            )
            any_applied = any_applied or applied
        # the metadata pass already counted the batch: gate the winner
        # broadcast on its exact event count (see __init__ docstring)
        n_batch_events = int(sum(r["n_events"] for r in meta_rows))
        dml = batch.where(~is_ddl).where(fence_ok)
        res = merge_into(
            self.spark, table, project_to_table_schema(table, dml),
            epoch_id=f"b{batch_id}.s0",
            collect_stats=False,
            extra_summary={"seq_min": batch_lo, "seq_max": batch_hi},
            broadcast_winners=0 < n_batch_events <= self.broadcast_winners_max_events,
            unique_order=self._unique_order,
        )
        any_applied = any_applied or not res.get("skipped")

        # A fully-replayed batch (every sub-epoch already in the ledger) must
        # not duplicate lineage/metrics rows or double-count events_applied —
        # the exactly-once contract covers the side tables too.
        if not any_applied:
            return

        # --- lineage written driver-side from the already-collected rows.
        # Plain pyarrow append (no Spark job): a tiny createDataFrame→write
        # costs a Python-parallelize stage (~seconds of worker spin-up) per
        # batch, which dominated the per-batch floor in profiling.
        _append_parquet(
            self.lineage_dir,
            {
                "partition_id": [r["partition_id"] for r in meta_rows] or [0],
                "seq_min": [r["seq_min"] for r in meta_rows] or [None],
                "seq_max": [r["seq_max"] for r in meta_rows] or [None],
                "txn_ids": [
                    sorted(t for t in r["txn_ids"] if t is not None) for r in meta_rows
                ] or [[]],
                "n_events": [r["n_events"] for r in meta_rows] or [0],
                "batch_id": [batch_id] * (len(meta_rows) or 1),
                "committed_at": [_now_us()] * (len(meta_rows) or 1),
            },
            "lineage",
        )

        applied = n_batch_events + len(ddls)
        self._events_applied += applied
        # CDCRecordFetchDelay / CDCRecordEmitDelay parity: delay of the
        # batch's freshest event at fetch start (t0) and at commit (now).
        # Event ts is wall-like in a real binlog; the synthetic fixture's ts
        # is far in the past/future, so delays are informational, not asserted
        # against wall time — the invariant tested is emit >= fetch.
        ts_maxes = [r["ts_max"] for r in meta_rows if r["ts_max"] is not None]
        fetch_delay_ms = emit_delay_ms = None
        if ts_maxes:
            # collect() yields naive datetimes in driver-local time;
            # .timestamp() interprets naive as local, so this is exact either way
            newest = max(ts_maxes).timestamp()
            fetch_delay_ms = int((t0 - newest) * 1000)
            emit_delay_ms = int((time.time() - newest) * 1000)
        self._write_metrics(
            batch_id=batch_id,
            phase="incremental",
            events_applied=applied,
            wall_ms=int((time.time() - t0) * 1000),
            fetch_delay_ms=fetch_delay_ms,
            emit_delay_ms=emit_delay_ms,
        )

    # ------------------------------------------------------------ metrics views
    def metrics_compat(self) -> DataFrame:
        """The metrics table under the reference's metric NAMES
        (MetricNames.java:28-32 + the CDC delay counters): one row per
        metric per batch, (batch_id, phase, metric, value). In this engine
        every received event is written exactly once per epoch, so
        SourceReceivedCount == SinkWriteCount by construction — both are
        emitted for dashboard parity."""
        m = self.spark.read.parquet(self.metrics_dir)
        pairs = [
            ("SourceReceivedCount", F.col("events_applied").cast("double")),
            ("SourceReceivedQPS", F.col("events_per_sec")),
            ("SinkWriteCount", F.col("events_applied").cast("double")),
            ("SinkWriteQPS", F.col("events_per_sec")),
            ("CDCRecordFetchDelay", F.col("fetch_delay_ms").cast("double")),
            ("CDCRecordEmitDelay", F.col("emit_delay_ms").cast("double")),
        ]
        stacked = F.explode(
            F.array(*[
                F.struct(F.lit(name).alias("metric"), expr.alias("value"))
                for name, expr in pairs
            ])
        ).alias("kv")
        return (
            m.select("batch_id", "phase", stacked)
            .select("batch_id", "phase", "kv.metric", "kv.value")
            .where(F.col("value").isNotNull())
        )

    # ------------------------------------------------------------ side tables
    def _write_lineage_snapshot(self, table: LakeTable, fences: dict[int, int]) -> None:
        n = len(fences)
        _append_parquet(
            self.lineage_dir,
            {
                "partition_id": [int(b) for b in fences],
                "seq_min": [-1] * n,
                "seq_max": [int(w) - 1 for w in fences.values()],
                "txn_ids": [[] for _ in range(n)],
                "n_events": [0] * n,
                "batch_id": [-1] * n,
                "committed_at": [_now_us()] * n,
            },
            "lineage",
        )

    def _write_metrics(
        self,
        batch_id: int,
        phase: str,
        events_applied: int,
        wall_ms: int,
        fetch_delay_ms: int | None = None,
        emit_delay_ms: int | None = None,
    ) -> None:
        lag = (
            self.total_events - self._events_applied
            if (self.total_events is not None and phase == "incremental")
            else None
        )
        rate = events_applied / (wall_ms / 1000.0) if wall_ms > 0 else None
        _append_parquet(
            self.metrics_dir,
            {
                "batch_id": [batch_id],
                "events_applied": [events_applied],
                "events_per_sec": [rate],
                "lag_events": [lag],
                "wall_ms": [wall_ms],
                "phase": [phase],
                "fetch_delay_ms": [fetch_delay_ms],
                "emit_delay_ms": [emit_delay_ms],
            },
            "metrics",
        )


# -------------------------------------------------- maintenance horizon

def checkpoint_horizon(job: "CdcIngestJob") -> int | None:
    """The seq below which the source can no longer replay — the safety
    fence for tombstone expiry (merge.expire_tombstones docstring).

    Derivation: Structured Streaming re-delivers batch N after restart only
    when ``offsets/N`` exists without ``commits/N``; any batch WITH a commit
    marker is final. The per-batch seq ranges live in the lineage table
    (written in the same foreachBatch transaction set as the data commits),
    so the horizon is 1 + the highest seq_max across batches that (a) carry
    a commit marker and (b) precede every uncommitted batch. Assumes the log
    is seq-monotone across files (binlog/WAL segment property) — arbitrary
    out-of-order OLD events are exactly what tombstones guard, so expiry
    below the horizon stays safe.

    Returns None when nothing is safely expirable (no committed batches or
    no lineage yet)."""
    commits_dir = os.path.join(job.checkpoint_dir, "commits")
    offsets_dir = os.path.join(job.checkpoint_dir, "offsets")
    if not os.path.isdir(commits_dir):
        return None
    committed = {int(f) for f in os.listdir(commits_dir) if f.isdigit()}
    offered = (
        {int(f) for f in os.listdir(offsets_dir) if f.isdigit()}
        if os.path.isdir(offsets_dir)
        else set()
    )
    if not committed or not os.path.isdir(job.lineage_dir):
        return None
    uncommitted = [b for b in offered if b not in committed]
    cutoff = min(uncommitted) if uncommitted else max(committed) + 1
    row = (
        job.spark.read.parquet(job.lineage_dir)
        .where((F.col("batch_id") >= 0) & (F.col("batch_id") < cutoff))
        .where(F.col("batch_id").isin([b for b in committed if b < cutoff]))
        .agg(F.max("seq_max").alias("hi"))
        .collect()[0]
    )
    return int(row["hi"]) + 1 if row["hi"] is not None else None


def expire_safe_tombstones(job: "CdcIngestJob") -> dict:
    """Maintenance entry point: derive the horizon from the job's own
    checkpoint + lineage and expire tombstones below it. Epoch-led (the
    epoch id embeds the horizon), so re-running with an unchanged horizon
    is a no-op — the same idempotence contract as every other commit."""
    from seatunnel_spark.lake.merge import expire_tombstones

    horizon = checkpoint_horizon(job)
    if horizon is None:
        return {"skipped": True, "reason": "no committed horizon"}
    table = LakeTable.load(job.table_root)
    res = expire_tombstones(
        job.spark, table, before_seq=horizon, epoch_id=f"maint.expire.h{horizon}"
    )
    res["horizon"] = horizon
    return res
