"""Multi-table changelog routing — SeaTunnel's MultipleRowType surface.

Reference: SeaTunnelRow carries a ``tableId`` so one CDC stream can feed
many destination tables (seatunnel-api MultipleRowType.java; the Zeta
engine shuffles by table id, ShuffleMultipleRowStrategy.java:46-99).

Spark realization: the wire stream carries a ``_table`` column (the
debezium/canal parsers in sources/formats.py emit it); ``foreachBatch``
routes each table's slice to its own LakeTable with per-(batch, table)
epoch ids, so the multi-table commit set is idempotent exactly like the
single-table path. A slice's DDLs commit first with their seqs, then the
slice merges once — one data epoch per (batch, table), whatever the DDLs.

Two routing layouts:
- few tables (default): a filter per table — each slice scan prunes on the
  ``_table`` predicate (pushed to parquet), so per-table cost tracks
  per-table volume, not stream volume, but the batch is SCANNED once per
  destination.
- many tables (``landing_dir`` set and table count ≥ ``landing_threshold``):
  the batch is written ONCE ``partitionBy(_table)`` into a per-batch landing
  zone, then every slice reads only its own ``_table=<name>/`` directory —
  directory pruning, one scan of the stream total plus one O(slice) read per
  table. The landing write is replay-safe (mode=overwrite under the batch
  id) and removed after all merges commit.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seatunnel_spark.lake.merge import merge_into
from seatunnel_spark.lake.table import LakeTable


class MultiTableRouter:
    """Route a changelog batch (with a ``_table`` column) into N LakeTables."""

    def __init__(self, spark: SparkSession, tables: dict[str, LakeTable],
                 table_col: str = "_table", landing_dir: str | None = None,
                 landing_threshold: int = 8):
        self.spark = spark
        self.tables = tables
        self.table_col = table_col
        self.landing_dir = landing_dir
        self.landing_threshold = landing_threshold

    def _land_batch(self, batch: DataFrame, batch_id: int) -> str:
        """Write the batch once, hive-partitioned by destination table."""
        land = os.path.join(self.landing_dir, f"batch={batch_id}")
        batch.write.mode("overwrite").partitionBy(self.table_col).parquet(land)
        return land

    def _landed_slice(self, land: str, name: str) -> DataFrame | None:
        """One table's slice by DIRECTORY — no predicate, no foreign files."""
        path = os.path.join(land, f"{self.table_col}={name}")
        if not os.path.isdir(path):
            return None  # table had no rows this batch
        return self.spark.read.parquet(path)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> dict[str, dict]:
        """One idempotent merge per destination table; unknown table ids are
        counted and skipped (the reference drops rows for unconfigured
        tables). Returns per-table merge stats.

        DDL events (op='DDL') in the stream are routed to their table's
        update_schema with their seqs, then the table's slice merges once,
        exactly like the single-table job: the seq-bounded wire bindings
        give every event the columns bound at its own offset
        (project_to_table_schema). A DDL row must NEVER reach a merge, where
        its null key would land as a junk row."""
        results: dict[str, dict] = {}
        # ONE pass over the batch collects every table's DDL events (rare,
        # tiny) — not a per-table job; tables not in this dict have none.
        ddl_by_table: dict[str, list] = {}
        if "ddl" in batch.columns:
            for r in (
                batch.where(F.col("op") == "DDL")
                .select(self.table_col, "seq", "ddl")
                .collect()
            ):
                if r["ddl"] is not None:
                    ddl_by_table.setdefault(r[self.table_col], []).append(
                        (r["seq"], r["ddl"])
                    )
        land = None
        if self.landing_dir is not None and len(self.tables) >= self.landing_threshold:
            land = self._land_batch(batch, batch_id)
        for name, table in self.tables.items():
            if land is not None:
                slice_df = self._landed_slice(land, name)
                if slice_df is None:
                    results[name] = {"skipped": True, "epoch_id": f"b{batch_id}.t.{name}"}
                    continue
            else:
                slice_df = batch.where(
                    F.col(self.table_col) == name
                ).drop(self.table_col)
            results[name] = self._apply_table_slice(
                table, slice_df, batch_id, name,
                sorted(ddl_by_table.get(name, [])),
            )
        if land is not None:
            shutil.rmtree(land, ignore_errors=True)
        return results

    def _apply_table_slice(
        self, table, slice_df: DataFrame, batch_id: int, name: str, ddls: list
    ) -> dict:
        from seatunnel_spark.schema import parse_change
        from seatunnel_spark.streaming.job import project_to_table_schema

        epoch_id = f"b{batch_id}.t.{name}"
        if "ddl" not in slice_df.columns:
            return merge_into(self.spark, table, slice_df, epoch_id=epoch_id,
                              collect_stats=False)
        for i, (s, payload) in enumerate(ddls):
            table.update_schema(
                parse_change(payload), epoch_id=f"{epoch_id}.d{s}.{i}", seq=s
            )
        dml = slice_df.where(F.col("op") != "DDL")
        return merge_into(
            self.spark, table, project_to_table_schema(table, dml),
            epoch_id=epoch_id, collect_stats=False,
        )

    def run_stream(self, stream: DataFrame, checkpoint_dir: str,
                   available_now: bool = True, timeout_s: float | None = None):
        writer = (
            stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .queryName("cdc-multi-table")
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
