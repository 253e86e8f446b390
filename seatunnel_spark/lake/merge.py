"""Keyed MERGE INTO with last-writer-wins semantics — merge-on-read deltas
with amortized compaction.

Equivalent SQL (what this runs as on a real Iceberg catalog):

    MERGE INTO target t USING batch s
    ON t.repo = s.repo AND t.path = s.path
    WHEN MATCHED AND s.op = 'D' THEN DELETE
    WHEN MATCHED THEN UPDATE SET *
    WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *

Reference semantics reproduced:
- keyed upsert DML routing I/+U → upsert, D → delete
  (connector-jdbc MysqlDialect.java:55-71, JdbcDialect.java:87-163)
- last-writer-wins dedup per key inside a batch
  (BufferReducedBatchStatementExecutor.java:42-106), realized as a
  ``max_by(row, seq)`` aggregate — map-side combinable, so a hot repo's
  events partially reduce before the shuffle. Deletes persist as
  ``_op='D'`` tombstone rows; every stored row carries its last-applied
  ``_seq``, so even out-of-order batch delivery resolves strictly by log
  offset (an older event can never resurrect or downgrade a row).

Why merge-on-read (the 100 TB argument): with uniformly hashed keys every
micro-batch touches every bucket, so copy-on-write would rewrite the WHOLE
table each batch — per-batch cost O(table). Here a commit writes only the
reduced batch as per-bucket delta files — O(batch) — and reads LWW-reduce
across a bucket's file stack (LakeTable.scan). Compaction folds a bucket
back to a single file whenever its stack exceeds ``compact_threshold``,
bounding read amplification; the same LSM-style shape as Apache Paimon /
Hudi MOR. Compaction is itself an epoch-led idempotent commit, so a crash
between delta and compact commits replays safely.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seatunnel_spark.lake.table import LakeTable

COMPACT_THRESHOLD = 8

from seatunnel_spark.operators.dedup import lww_reduce  # noqa: E402  (shared reducer)


def _write_bucketed(
    table: LakeTable, df: DataFrame, n_partitions: int, pre_partitioned: bool = False
) -> dict[int, list[dict]]:
    """Write df (with a ``bucket`` column) partitioned by bucket under a fresh
    staging dir; return {bucket: [file entries]} relative to the table root.

    ``pre_partitioned=True``: the caller guarantees each bucket's rows are
    already wholly inside one partition (merge_into's single-exchange plan),
    so no repartition — partitionBy alone yields one file per bucket."""
    staging_rel = os.path.join("data", f"snap-{uuid.uuid4().hex[:12]}")
    staging_abs = os.path.join(table.root, staging_rel)
    if not pre_partitioned:
        df = df.repartition(max(n_partitions, 1), "bucket")
    df.write.partitionBy("bucket").parquet(staging_abs)
    schema_id = table.meta["current_schema_id"]
    out: dict[int, list[dict]] = {}
    for entry in os.listdir(staging_abs):
        if not entry.startswith("bucket="):
            continue
        b = int(entry.split("=", 1)[1])
        for fn in os.listdir(os.path.join(staging_abs, entry)):
            if fn.endswith(".parquet"):
                out.setdefault(b, []).append(
                    {"path": os.path.join(staging_rel, entry, fn), "schema_id": schema_id}
                )
    return out


def _footer_stats(table: LakeTable, new_files: dict[int, list[dict]]) -> dict:
    """batch_rows + seq range from the written parquet footers — O(files)
    driver-side metadata reads (row counts and `_seq` column statistics),
    zero Spark jobs. The same trick Iceberg uses: commit metrics come from
    file metadata, never a re-scan."""
    import pyarrow.parquet as pq

    n = 0
    lo = hi = None
    for files in new_files.values():
        for f in files:
            md = pq.ParquetFile(os.path.join(table.root, f["path"])).metadata
            n += md.num_rows
            try:
                idx = md.schema.names.index("_seq")
            except ValueError:
                continue
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    continue
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
    out: dict = {"batch_rows": int(n)}
    if lo is not None:
        out.update(seq_min=int(lo), seq_max=int(hi))
    return out


def merge_into(
    spark: SparkSession,
    table: LakeTable,
    batch: DataFrame,
    epoch_id: str,
    extra_summary: dict | None = None,
    properties_update: dict | None = None,
    compact_threshold: int = COMPACT_THRESHOLD,
    collect_stats: bool = True,
    broadcast_winners: bool = False,
    pre_reduced: bool = False,
    unique_order: bool = False,
) -> dict:
    """Apply a change batch as one atomic delta commit (+ compaction when a
    bucket's file stack is deep). ``batch`` columns: current table schema
    columns + ``op`` ('I'/'U'/'D') + ``seq``. Idempotent by epoch_id.

    ``collect_stats=True`` adds batch_rows / seq range to the commit summary
    — read driver-side from the written parquet FOOTERS (row counts + column
    statistics), not from a Spark pass: stats are free metadata, never worth
    a second materialization of the wide batch. ``collect_stats=False`` skips
    even the footer reads; the streaming job uses it because its metadata
    pass already knows the batch's seq range and count. Either way the merge
    is exactly ONE Spark action — reduce + write.
    """
    table.refresh()
    if table.epoch_committed(epoch_id):
        return {"skipped": True, "epoch_id": epoch_id}

    field_names = [f["name"] for f in table.schema_fields()]
    key = table.key

    batch = batch.select(*field_names, "op", "seq").withColumn(
        "bucket", table.bucket_expr()
    )
    # Single-exchange merge (murmur3-bucketed tables): bucket id == Spark's
    # own HashPartitioning(key) partition id, so the reduce's probe-side
    # repartition is reused by everything downstream — the semi-join, the
    # byte-dup distinct, and the bucketed file write all see their required
    # clustering already satisfied and insert no further exchange. Wide
    # payload bytes cross the wire exactly once per batch (previously twice:
    # join exchange + write repartition); the winners aggregate ships only
    # narrow (key, seq, hash) bytes, partially combined map-side.
    pre_partitioned = table.meta.get("bucket_fn") == "murmur3"
    if pre_reduced:
        # caller CONTRACT: batch already has exactly one row per key (the
        # snapshot's fold — base is a consistent key-unique scan, window
        # winners are LWW-reduced and base keys they cover anti-joined
        # away). Wide rows go straight to the bucketed exchange: no winner
        # aggregate, no semi-join, no wide distinct.
        reduced = (
            batch.repartition(table.num_buckets, *key)
            if pre_partitioned
            else batch
        ).withColumnRenamed("op", "_op").withColumnRenamed("seq", "_seq")
    else:
        # broadcast_winners (caller-gated on batch size): the narrow winner
        # set broadcasts and the LWW filter runs MAP-SIDE, so the one wide
        # exchange carries only winning rows — a churn-heavy batch shuffles
        # its distinct keys, not its raw volume. See lww_reduce's docstring.
        # unique_order (native-log batches: seq is the unique log offset)
        # removes the tie-break tag — the winners aggregate then scans only
        # (key, seq), never re-reading the wide payload — and the post-join
        # dedup pass (see lww_reduce docstring).
        reduced = lww_reduce(
            batch, key,
            bucket_partitions=table.num_buckets if pre_partitioned else None,
            broadcast_winners=broadcast_winners,
            unique_order=unique_order,
        ).withColumnRenamed("op", "_op").withColumnRenamed("seq", "_seq")

    new_files = _write_bucketed(
        table, reduced, table.num_buckets, pre_partitioned=pre_partitioned
    )
    affected = sorted(new_files)

    summary = {"operation": "merge-delta", "buckets_touched": len(affected)}
    if collect_stats:
        summary.update(_footer_stats(table, new_files))
    summary.update(extra_summary or {})
    committed = table.commit_snapshot(
        new_files, epoch_id, summary, properties_update=properties_update, mode="append"
    )

    compacted = maybe_compact(spark, table, epoch_id, compact_threshold)
    return {
        "epoch_id": epoch_id,
        "skipped": not committed,
        "batch_rows": summary.get("batch_rows"),
        "seq_min": summary.get("seq_min"),
        "seq_max": summary.get("seq_max"),
        "buckets": affected,
        "compacted_buckets": compacted,
    }


def expire_tombstones(
    spark: SparkSession,
    table: LakeTable,
    before_seq: int,
    epoch_id: str,
) -> dict:
    """Drop delete tombstones with ``_seq < before_seq`` during a full
    rewrite. Only legal once the source can no longer replay offsets below
    ``before_seq`` (the checkpoint horizon) — before that, a tombstone is
    what stops an out-of-order old event from resurrecting its key. Same
    contract as Iceberg's delete-file compaction / Paimon's full compact."""
    table.refresh()
    if table.epoch_committed(epoch_id):
        return {"skipped": True}
    snap = table.current_snapshot()
    scanned = {
        b: list((snap or {}).get("bucket_files", {}).get(str(b), []))
        for b in range(table.num_buckets)
    }
    all_rows = table.scan(spark, include_meta=True)
    kept = all_rows.where(
        (F.col("_op") != "D") | (F.col("_seq") >= before_seq)
    ).withColumn("bucket", table.bucket_expr())
    new_files = _write_bucketed(table, kept, table.num_buckets)
    for b in range(table.num_buckets):
        new_files.setdefault(b, [])
    # replace-mode rewrite validated against the scanned snapshot: a delta
    # appended concurrently to any bucket aborts the rewrite (never dropped)
    committed = table.commit_snapshot(
        new_files, epoch_id,
        {"operation": "expire-tombstones", "before_seq": before_seq},
        mode="replace",
        expected_bucket_files=scanned,
    )
    return {"skipped": not committed, "buckets": table.num_buckets}


def maybe_compact(
    spark: SparkSession,
    table: LakeTable,
    epoch_id: str,
    threshold: int = COMPACT_THRESHOLD,
) -> list[int]:
    """Fold any bucket whose delta stack exceeds ``threshold`` back into one
    reduced file. Amortized O(bucket) every ~threshold batches; epoch-led so
    replay after a crash between delta and compact commits is a no-op."""
    table.refresh()
    deep = sorted(b for b, n in table.delta_file_counts().items() if n > threshold)
    if not deep:
        return []
    c_epoch = f"{epoch_id}.compact"
    if table.epoch_committed(c_epoch):
        return deep
    snap = table.current_snapshot()
    scanned = {b: list(snap["bucket_files"].get(str(b), [])) for b in deep}
    merged = table.scan(spark, buckets=deep, include_meta=True).withColumn(
        "bucket", table.bucket_expr()
    )
    new_files = _write_bucketed(table, merged, len(deep))
    for b in deep:
        new_files.setdefault(b, [])  # bucket may reduce to nothing but tombstones? keep empty
    # Validated replace: if a concurrent writer appended a delta to one of
    # these buckets after the scan, abort (the stack stays deep and the next
    # batch retries compaction) rather than drop the concurrent delta.
    committed = table.commit_snapshot(
        new_files,
        c_epoch,
        {"operation": "compact", "buckets": deep},
        mode="replace",
        expected_bucket_files=scanned,
    )
    return deep if committed else []
