"""Last-writer-wins key dedup — the pre-MERGE reduction.

Reference: connector-jdbc BufferReducedBatchStatementExecutor.java:42-106 —
a LinkedHashMap keyed by PK where later ops overwrite earlier ones and
UPDATE_BEFORE is skipped (:56-58). In Spark this is a single keyed window:

    row_number() OVER (PARTITION BY key ORDER BY seq DESC) = 1

which Catalyst executes as one hash exchange + in-partition sort; with AQE
skew handling a hot key still lands in one partition (a window cannot be
split), which is why the *merge* path uses the algebraically identical
``max_by`` aggregate instead — aggregates get map-side partial combine, so a
hot repo's millions of events reduce locally before the shuffle. Both are
exposed; the window form is the literal SQL the oracle checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(df: DataFrame, key: list[str], order_col: str = "seq") -> DataFrame:
    """Keep only the last event per key (by order_col), window form."""
    w = Window.partitionBy(*key).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def lww_dedup_agg(df: DataFrame, key: list[str], order_col: str = "seq") -> DataFrame:
    """Algebraically identical reduction via max_by — map-side combinable,
    so hot keys partially reduce before the shuffle (preferred at scale)."""
    payload = [c for c in df.columns if c not in key]
    return (
        df.groupBy(*key)
        .agg(F.max_by(F.struct(*payload), F.col(order_col)).alias("_r"))
        .select(*key, "_r.*")
    )


def lww_reduce(
    df: DataFrame,
    key: list[str],
    order_col: str = "seq",
    strategy: str = "auto",
    bucket_partitions: int | None = None,
    broadcast_winners: bool = False,
    unique_order: bool = False,
) -> DataFrame:
    """One row per key: the one with the max ``order_col`` (LWW).

    Two physical plans:
    - ``max_by``: one aggregate; carries full rows in its hash buffers
      (map-side AND final) — fastest for narrow rows, GC-heavy when rows
      are KBs.
    - ``semi_join``: find (key, max order) on NARROW columns (cheap,
      map-side combinable), then keep the winning wide rows with a
      buffer-free shuffled hash semi-join (hash table built on the narrow
      winners) — wide bytes cross the wire once and never sit in
      aggregation state. Preferred for wide payloads.
    ``auto`` picks semi_join when a wide text column is present.

    Ties: rows equal on (key, order_col) are broken deterministically by
    max xxhash64(payload), so the one-row-per-key contract holds even for
    sources with non-unique ordering values (e.g. timestamp-ordered input).
    The tie-break hash rides INSIDE the winner aggregate — state per key is
    max(struct(order, hash)), two longs — so wide payload bytes still never
    enter aggregation buffers (putting a max_by(full payload) after the join
    was measured ~3x slower: every row's KBs churn through ObjectHashAggregate
    state). Rows identical on (key, order, hash) are byte-identical
    duplicates; the final distinct collapses them without a new exchange
    (the join output is already hash-partitioned on a subset of the
    grouping columns).

    ``bucket_partitions``: single-exchange mode for the merge path. The wide
    probe side is explicitly repartitioned by ``key`` into that many
    partitions (== the lake's murmur3 bucket layout: partition id IS the
    bucket id, LakeTable.bucket_expr) while the winners aggregate runs off
    the RAW input — map-side partial combine, only narrow bytes cross its
    exchange. With subset co-partitioning enabled (session.py) the
    semi-join, the distinct, and the downstream bucketed file write all
    reuse the probe side's one exchange: wide payload bytes cross the wire
    exactly once per batch.

    ``broadcast_winners``: with it, the narrow winners table (key + order +
    tie-break hash, one row per distinct key in the batch) is BROADCAST and
    the semi-join filters the wide probe MAP-SIDE, before its exchange — so
    only winning wide rows cross the wire (a change batch with heavy
    per-key churn shuffles its winner set, not its raw volume). Winners are
    batch-bounded, not table-bounded, so the caller must gate on batch size
    (the streaming job's metadata pass knows the batch's event count before
    any merge; CdcIngestJob.broadcast_winners_max_events) — an unbounded
    broadcast is a driver OOM at cluster scale.

    ``unique_order``: caller CONTRACT that ``order_col`` is unique across the
    input (the native parquet-events log: seq IS the log offset, unique by
    construction like a binlog position). Ties are then impossible, so the
    semi-join plan drops its tie-break machinery entirely: the winner
    aggregate groups only (key → max(order)) — a 3-narrow-column scan that
    never touches the wide payload (no ``xxhash64(payload)`` tag, which
    forced the winners subtree to read and hash every content byte a second
    time) — and the post-join dedup disappears (exactly one row carries the
    max order per key). Queue wire formats order by timestamp where ties are
    real; they must keep the default False.
    """
    if strategy == "auto":
        strategy = "semi_join" if "content" in df.columns else "max_by"
    if strategy == "max_by":
        out = lww_dedup_agg(df, key, order_col)
        return out.repartition(bucket_partitions, *key) if bucket_partitions else out
    payload = [c for c in df.columns if c not in key and c != order_col]
    if unique_order or not payload:
        # no tie-break tag: ties are impossible (unique_order) or are
        # full-row duplicates (no payload), which one distinct() collapses
        winners = df.groupBy(*key).agg(F.max(order_col).alias(order_col))
        if broadcast_winners:
            kept = df.join(F.broadcast(winners), [*key, order_col], "leftsemi")
            if bucket_partitions:
                kept = kept.repartition(bucket_partitions, *key)
        else:
            probe = df.repartition(bucket_partitions, *key) if bucket_partitions else df
            kept = probe.join(winners.hint("shuffle_hash"), [*key, order_col], "leftsemi")
        return kept if unique_order else kept.distinct()
    tagged = df.withColumn("_tb", F.xxhash64(*payload))
    winners = (
        tagged.groupBy(*key)
        .agg(F.max(F.struct(F.col(order_col), F.col("_tb"))).alias("_w"))
        .select(*key, F.col(f"_w.{order_col}").alias(order_col), F.col("_w._tb").alias("_tb"))
    )
    # Post-semi-join duplicates agree on (key, order, _tb) and are therefore
    # byte-identical (xxhash64 over the full payload): collapse them by the
    # NARROW columns only. distinct() grouped by every column — hashing the
    # full payload (KBs of content per row) a second time for keys the
    # tie-break hash already summarizes. Same one-exchange property (the
    # grouping keys are a superset of the repartition key).
    dd_cols = [*key, order_col, "_tb"]
    if broadcast_winners:
        # map-side filter first: only winning wide rows reach the exchange
        kept = tagged.join(F.broadcast(winners), dd_cols, "leftsemi")
        if bucket_partitions:
            kept = kept.repartition(bucket_partitions, *key)
        return kept.dropDuplicates(dd_cols).drop("_tb")
    probe = tagged.repartition(bucket_partitions, *key) if bucket_partitions else tagged
    return (
        probe.join(winners.hint("shuffle_hash"), dd_cols, "leftsemi")
        .dropDuplicates(dd_cols)
        .drop("_tb")
    )
