"""LakeTable — an Iceberg-semantics table format in pure PySpark + POSIX.

Why this exists: the sandbox has no Iceberg runtime jar, but the north star
requires Iceberg-style behavior — atomic snapshot commits, column-ID-based
schema evolution, MERGE upserts, idempotent commit summaries. This module
implements those semantics directly:

- **Atomic commit**: metadata versions ``metadata/v{N}.json`` are created
  with ``os.link`` (fails if the target exists → optimistic concurrency,
  the same CAS contract Iceberg gets from its catalog). Readers resolve the
  table state from the highest version file; a crashed writer leaves only
  unreferenced orphan files, never a torn table (reference analog: the File
  sink's idempotent rename commit, FileSinkAggregatedCommitter.java:40-131,
  with Iceberg's snapshot swap playing the role of the rename).
- **Epoch ledger**: every commit carries an ``epoch_id``; the set of applied
  epochs lives in the same metadata document the commit swaps in, so
  "data visible" and "epoch recorded" are one atomic event. Restart after a
  crash can re-offer a batch and the commit is skipped — SeaTunnel's
  exactly-once SinkAggregatedCommitter / checkpoint-ack contract
  (SinkAggregatedCommitter.java:33-60, CheckpointCoordinator.java:687-741).
- **Column-ID schema evolution**: fields carry immutable ids; renames change
  only the name, adds allocate a fresh id, widenings change the type. Data
  files written under an old schema are aligned at scan time by id
  (rename/null-fill/cast), so no data rewrite on DDL — Iceberg's documented
  evolution model, mirroring AlterTableEventHandler.java:53-163.
- **Hash-bucket layout, merge-on-read**: data files live under
  ``bucket=K`` directories, K = pmod(hash(key), num_buckets) (xxhash64 for
  tables created before ``bucket_fn`` was recorded). A MERGE appends one
  LWW-reduced delta file per touched bucket; ``scan`` reduces each
  bucket's file stack by key at read time, and compaction (merge.py) folds
  a deep stack back into one file.

Scale notes: every commit writes a full metadata version that retains up
to 50 snapshots, each with the complete ``bucket_files`` of every bucket,
plus an epoch ledger that is never pruned, so the version file grows with
history and bucket count. Iceberg bounds the same cost with manifests that
record only added and removed files; this format has that seam
(bucket_files could point at side manifest files).
"""

from __future__ import annotations

import copy
import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from seatunnel_spark.schema import SchemaChange, is_legal_widening, normalize_sql_type

_VERSION_RE = re.compile(r"^v(\d+)\.json$")


def _type_of(ddl: str) -> T.DataType:
    from seatunnel_spark.schema import sqltype_to_spark

    return sqltype_to_spark(ddl)


class LakeTable:
    def __init__(self, root: str, meta: dict, version: int):
        self.root = root
        self.meta = meta
        self.version = version

    # ------------------------------------------------------------ lifecycle
    @staticmethod
    def create(
        root: str,
        fields: list[tuple[str, str]],
        key: list[str],
        num_buckets: int = 16,
        properties: dict | None = None,
        save_mode: str = "keep",
    ) -> "LakeTable":
        """save_mode (reference DataSaveMode.java): 'keep' loads an existing
        table, 'error_if_exists' raises, 'recreate' drops existing data."""
        if LakeTable.exists(root):
            if save_mode == "keep":
                return LakeTable.load(root)
            if save_mode == "error_if_exists":
                raise FileExistsError(f"lake table already exists at {root}")
            if save_mode == "recreate":
                import shutil

                shutil.rmtree(root)
            else:
                raise ValueError(f"unknown save_mode {save_mode!r}")
        os.makedirs(os.path.join(root, "metadata"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        schema = [
            {"id": i + 1, "name": n, "type": t} for i, (n, t) in enumerate(fields)
        ]
        meta = {
            "format_version": 1,
            "table_uuid": str(uuid.uuid4()),
            "bucket_fn": "murmur3",
            "num_buckets": num_buckets,
            "key": list(key),
            "schemas": {"0": schema},
            "current_schema_id": 0,
            "next_column_id": len(fields) + 1,
            "properties": dict(properties or {}),
            # wire_bindings: stream field name -> column id (survives renames)
            "wire_bindings": {n: i + 1 for i, (n, _) in enumerate(fields)},
            "snapshots": [],
            "current_snapshot_id": None,
            "epochs": {},
        }
        t = LakeTable(root, meta, -1)
        t._write_version(meta)
        return t

    @staticmethod
    def load(root: str) -> "LakeTable":
        t = LakeTable(root, {}, -1)
        t.refresh()
        return t

    @staticmethod
    def exists(root: str) -> bool:
        mdir = os.path.join(root, "metadata")
        return os.path.isdir(mdir) and any(_VERSION_RE.match(f) for f in os.listdir(mdir))

    def refresh(self) -> "LakeTable":
        mdir = os.path.join(self.root, "metadata")
        versions = [
            int(m.group(1)) for f in os.listdir(mdir) if (m := _VERSION_RE.match(f))
        ]
        v = max(versions)
        with open(os.path.join(mdir, f"v{v}.json")) as fh:
            self.meta = json.load(fh)
        self.version = v
        return self

    def _write_version(self, meta: dict) -> None:
        """CAS-create the next metadata version (atomic via os.link)."""
        mdir = os.path.join(self.root, "metadata")
        target = os.path.join(mdir, f"v{self.version + 1}.json")
        tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        try:
            os.link(tmp, target)  # raises FileExistsError on concurrent commit
        finally:
            os.unlink(tmp)
        self.meta = meta
        self.version += 1

    def _commit(self, mutate) -> bool:
        """Optimistic commit loop: refresh → mutate copy → CAS. ``mutate``
        returns False to abort (e.g. epoch already applied)."""
        for _ in range(20):
            meta2 = copy.deepcopy(self.meta)
            if mutate(meta2) is False:
                return False
            try:
                self._write_version(meta2)
                return True
            except FileExistsError:
                self.refresh()
        raise RuntimeError("commit contention: 20 CAS attempts failed")

    # ------------------------------------------------------------ accessors
    @property
    def num_buckets(self) -> int:
        return self.meta["num_buckets"]

    @property
    def key(self) -> list[str]:
        return self.meta["key"]

    def schema_fields(self, schema_id: int | None = None) -> list[dict]:
        sid = self.meta["current_schema_id"] if schema_id is None else schema_id
        return self.meta["schemas"][str(sid)]

    def spark_schema(self, schema_id: int | None = None) -> T.StructType:
        return T.StructType(
            [T.StructField(f["name"], _type_of(f["type"]), True) for f in self.schema_fields(schema_id)]
        )

    def current_snapshot(self) -> dict | None:
        sid = self.meta["current_snapshot_id"]
        if sid is None:
            return None
        return next(s for s in self.meta["snapshots"] if s["snapshot_id"] == sid)

    def snapshot_history(self) -> list[dict]:
        """Retained snapshots, oldest first — (snapshot_id, parent_id,
        epoch_id, summary). Iceberg's table.history() equivalent."""
        return list(self.meta["snapshots"])

    def snapshot_by_id(self, snapshot_id: int) -> dict:
        for s in self.meta["snapshots"]:
            if s["snapshot_id"] == snapshot_id:
                return s
        raise KeyError(
            f"snapshot {snapshot_id} not retained "
            f"(history keeps the last {len(self.meta['snapshots'])})"
        )

    def epoch_committed(self, epoch_id: str) -> bool:
        return epoch_id in self.meta["epochs"]

    def bucket_expr(self, df_cols: list[str] | None = None) -> F.Column:
        """Key → bucket id. New tables use ``pmod(hash(key), n)`` — murmur3
        with Spark's default seed, i.e. EXACTLY the function HashPartitioning
        evaluates — so ``df.repartition(n, *key)`` places each bucket's rows
        wholly in partition id == bucket id. That identity lets the merge
        path run reduce + bucketed write off ONE wide exchange (merge.py).
        Tables created before bucket_fn was recorded keep xxhash64 (the
        function is frozen at create time: data layout depends on it)."""
        fn = self.meta.get("bucket_fn", "xxhash64")
        h = F.hash(*self.key) if fn == "murmur3" else F.xxhash64(*self.key)
        return F.pmod(h, F.lit(self.num_buckets)).cast("int")

    # ------------------------------------------------------------ scanning
    def scan(
        self,
        spark: SparkSession,
        buckets: list[int] | None = None,
        include_meta: bool = False,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Read the current snapshot (optionally only some buckets), aligning
        every data file to the current schema by column id.

        ``snapshot_id``: time travel — read a retained historical snapshot
        under the schema that was current when it committed (Iceberg's
        ``VERSION AS OF``). Data files never change after commit, so the read
        is exactly the state the table had at that snapshot.

        Files written under older schemas are projected: renamed columns are
        matched by id, added columns null-filled, widened columns cast — the
        Iceberg read-time evolution contract, no rewrite on DDL.

        Every data row carries hidden ``_op``/``_seq`` columns: the RowKind
        and log offset of the last applied change. Deletes persist as
        tombstones (``_op = 'D'``) so MERGE stays correct even if micro-batches
        arrive out of log order (e.g. file-source ordering after restart) —
        an *older* change can never overwrite or resurrect a newer row.
        ``include_meta=False`` (the user view) filters tombstones and hides
        the columns; the merge path reads with ``include_meta=True``.
        """
        if snapshot_id is not None:
            snap = self.snapshot_by_id(snapshot_id)
            # time travel reads under the schema current AT that snapshot;
            # a live scan always uses the table's current schema (DDL-only
            # commits advance the schema without creating a data snapshot)
            cur = self.schema_fields(snap["schema_id"])
        else:
            snap = self.current_snapshot()
            cur = self.schema_fields()
        meta_fields = [("_op", "string"), ("_seq", "bigint")]

        def finish(df: DataFrame) -> DataFrame:
            if include_meta:
                return df
            return df.where(F.col("_op") != "D").drop("_op", "_seq")

        empty_schema = T.StructType(
            [T.StructField(f["name"], _type_of(f["type"]), True) for f in cur]
            + [T.StructField(n, _type_of(t), True) for n, t in meta_fields]
        )
        if snap is None:
            return finish(spark.createDataFrame([], empty_schema))
        wanted = set(range(self.num_buckets)) if buckets is None else set(buckets)

        # Merge-on-read split: every data file is internally LWW-reduced
        # (one row per key), so buckets with a single file need no reduce;
        # only multi-file buckets pay the key shuffle — compaction keeps
        # that set small. Keys never cross buckets, so the two halves are
        # disjoint and union cleanly.
        single_files: list[dict] = []
        multi_files: list[dict] = []
        for b, files in snap["bucket_files"].items():
            if int(b) in wanted:
                (single_files if len(files) <= 1 else multi_files).extend(files)

        parts = []
        compacted = self._read_aligned(spark, single_files, cur)
        if compacted is not None:
            parts.append(compacted)
        layered = self._read_aligned(spark, multi_files, cur)
        if layered is not None:
            parts.append(self._stack_reduce(layered))

        if not parts:
            return finish(spark.createDataFrame([], empty_schema))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return finish(out)

    def _stack_reduce(self, layered: DataFrame) -> DataFrame:
        """LWW across a bucket's file stack: per key the row with the max
        ``_seq``, ties to the max xxhash64 of the other columns — the
        survivor rule of ``lww_reduce``'s tie-broken semi-join, as one
        window over one exchange. Every data file holds at most one row per
        key, so a window partition is at most a stack deep: no hot key can
        pile up in it (change batches can have hot keys, which is why the
        merge keeps the map-side-combining aggregate). Rows with a null key
        or ``_seq`` are dropped, as the semi-join's equi-join drops them."""
        key = self.key
        payload = [c for c in layered.columns if c not in key and c != "_seq"]
        w = Window.partitionBy(*key).orderBy(
            F.col("_seq").desc(), F.xxhash64(*payload).desc()
        )
        return (
            layered.dropna(subset=[*key, "_seq"])
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    def _read_aligned(self, spark: SparkSession, files: list[dict], cur: list[dict]):
        """Read data files grouped by writer schema, aligned to the current
        schema by column id (rename/null-fill/cast — Iceberg evolution)."""
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema_id"], []).append(
                os.path.join(self.root, f["path"])
            )
        parts = []
        for sid, paths in sorted(by_schema.items()):
            old = {f["id"]: f for f in self.schema_fields(sid)}
            raw = spark.read.parquet(*paths)
            cols = []
            for f in cur:
                o = old.get(f["id"])
                if o is None:
                    cols.append(F.lit(None).cast(_type_of(f["type"])).alias(f["name"]))
                else:
                    cols.append(F.col(o["name"]).cast(_type_of(f["type"])).alias(f["name"]))
            cols += [F.col("_op"), F.col("_seq").cast("long")]
            parts.append(raw.select(*cols))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def changes_between(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
        include_meta: bool = True,
    ) -> DataFrame:
        """Incremental read: the change rows committed by snapshots in
        ``(from, to]`` — the lake-as-a-CDC-source surface (reference:
        connector-iceberg's streaming snapshot-tailing enumerator,
        IcebergStreamSplitEnumerator.java; Iceberg's incremental append
        scan). A downstream job polls ``current_snapshot()`` and reads
        forward from its last position; each delta file is the LWW-reduced
        change set of one committed batch, with ``_op``/``_seq`` exposing
        RowKind and log offset (tombstones included — they ARE the deletes).

        Only data-changing commits contribute: layout-only rewrites
        (compaction / tombstone expiry) replace files without changing row
        state and are skipped, so a consumer never re-reads rows it already
        has. ``from_snapshot_id=None`` reads from the table's first commit —
        valid only while that commit is still retained (≤50 snapshots of
        history); once history has been pruned, bootstrap with a full
        ``scan()`` and resume incrementally from its snapshot id. Any window
        that touches expired snapshots raises (diffing against a pruned
        parent would re-emit rows) — the same error Iceberg's incremental
        read raises."""
        retained = {s["snapshot_id"] for s in self.meta["snapshots"]}
        if (
            from_snapshot_id is not None
            and from_snapshot_id not in retained
            and retained
            and from_snapshot_id < min(retained)
        ):
            raise ValueError(
                f"from_snapshot_id {from_snapshot_id} predates retained history "
                f"(oldest retained: {min(retained)}); re-bootstrap with a full scan"
            )
        cur = self.schema_fields()
        new_files: list[dict] = []
        for snap in self.meta["snapshots"]:
            sid = snap["snapshot_id"]
            if from_snapshot_id is not None and sid <= from_snapshot_id:
                continue
            if to_snapshot_id is not None and sid > to_snapshot_id:
                continue
            if snap["summary"].get("operation") in ("compact", "expire-tombstones"):
                continue
            parent = next(
                (s for s in self.meta["snapshots"] if s["snapshot_id"] == snap["parent_id"]),
                None,
            )
            if parent is None and snap["parent_id"] is not None:
                # parent expired from history: its cumulative file list can't
                # be diffed — treating every file as new would re-emit old
                # rows. The window must start at a retained parent.
                raise ValueError(
                    f"snapshot {sid}'s parent {snap['parent_id']} is expired; "
                    "incremental read window crosses pruned history"
                )
            parent_paths = {
                f["path"]
                for files in (parent["bucket_files"].values() if parent else [])
                for f in files
            }
            for files in snap["bucket_files"].values():
                for f in files:
                    if f["path"] not in parent_paths:
                        new_files.append(f)
        out = self._read_aligned(spark, new_files, cur)
        if out is None:
            meta_fields = [("_op", "string"), ("_seq", "bigint")]
            out = spark.createDataFrame(
                [],
                T.StructType(
                    [T.StructField(f["name"], _type_of(f["type"]), True) for f in cur]
                    + [T.StructField(n, _type_of(t), True) for n, t in meta_fields]
                ),
            )
        if include_meta:
            return out
        return out.where(F.col("_op") != "D").drop("_op", "_seq")

    def delta_file_counts(self) -> dict[int, int]:
        snap = self.current_snapshot()
        if snap is None:
            return {}
        return {int(b): len(fs) for b, fs in snap["bucket_files"].items()}

    # ------------------------------------------------------------ maintenance
    def vacuum(self, older_than_s: float = 600.0) -> dict:
        """Delete data files not referenced by any retained snapshot —
        Iceberg's remove_orphan_files + expire_snapshots in one step (the
        metadata already retains a bounded snapshot history). Safe w.r.t.
        readers of retained snapshots only, like Iceberg.

        ``older_than_s``: grace period — only files whose mtime is older are
        deleted, so files staged by an in-flight writer (written before its
        commit_snapshot lands) are never swept. Iceberg's remove_orphan_files
        requires the same older-than cutoff for exactly this race; pass 0
        only when no writer can be active."""
        import time as _time

        self.refresh()
        cutoff = _time.time() - older_than_s
        referenced: set[str] = set()
        for snap in self.meta["snapshots"]:
            for files in snap["bucket_files"].values():
                for f in files:
                    referenced.add(os.path.normpath(f["path"]))
        data_root = os.path.join(self.root, "data")
        removed = 0
        kept = 0
        for dirpath, _dirnames, filenames in os.walk(data_root):
            for fn in filenames:
                if not fn.endswith(".parquet"):
                    continue
                abs_path = os.path.join(dirpath, fn)
                rel = os.path.normpath(os.path.relpath(abs_path, self.root))
                if rel in referenced or os.path.getmtime(abs_path) > cutoff:
                    kept += 1
                else:
                    os.unlink(abs_path)
                    removed += 1
        # prune now-empty staging dirs
        for dirpath, dirnames, filenames in os.walk(data_root, topdown=False):
            if dirpath != data_root and not dirnames and not filenames:
                os.rmdir(dirpath)
        return {"removed_files": removed, "kept_files": kept}

    # ------------------------------------------------------------ commits
    def commit_snapshot(
        self,
        new_bucket_files: dict[int, list[dict]],
        epoch_id: str,
        summary: dict,
        properties_update: dict | None = None,
        mode: str = "replace",
        expected_bucket_files: dict[int, list[dict]] | None = None,
    ) -> bool:
        """Swap in a snapshot changing the file lists of the given buckets.

        mode="replace": the bucket's list becomes exactly the given files
        (compaction / full rewrite). mode="append": the files are appended as
        merge-on-read deltas — reads LWW-reduce across a bucket's files, so
        a delta commit costs O(batch), never O(table). Returns False (no-op)
        if ``epoch_id`` was already applied.

        ``expected_bucket_files``: for replace-mode rewrites, the file lists
        the rewrite was *scanned from*. If a concurrent writer appended to an
        affected bucket between the scan and this (possibly CAS-retried)
        commit, the commit aborts instead of silently dropping the delta —
        the same rewrite validation Iceberg performs (validateFromSnapshot).
        """

        def mutate(meta: dict):
            if epoch_id in meta["epochs"]:
                return False
            prev = None
            if meta["current_snapshot_id"] is not None:
                prev = next(
                    s for s in meta["snapshots"] if s["snapshot_id"] == meta["current_snapshot_id"]
                )
            if expected_bucket_files is not None:
                live = prev["bucket_files"] if prev else {}
                for b in new_bucket_files:
                    if live.get(str(b), []) != expected_bucket_files.get(int(b), []):
                        return False  # concurrent append since the scan: abort
            if properties_update:
                meta["properties"].update(properties_update)
            bucket_files = dict(prev["bucket_files"]) if prev else {}
            for b, files in new_bucket_files.items():
                if mode == "append":
                    bucket_files[str(b)] = bucket_files.get(str(b), []) + files
                else:
                    bucket_files[str(b)] = files
            snap_id = (prev["snapshot_id"] + 1) if prev else 1
            snap = {
                "snapshot_id": snap_id,
                "parent_id": prev["snapshot_id"] if prev else None,
                "epoch_id": epoch_id,
                "schema_id": meta["current_schema_id"],
                "summary": summary,
                "bucket_files": bucket_files,
            }
            # keep full history lean: retain last 50 snapshots' metadata,
            # current one always present (older data files become orphans —
            # a vacuum job's concern, as in Iceberg expire_snapshots)
            meta["snapshots"] = (meta["snapshots"] + [snap])[-50:]
            meta["current_snapshot_id"] = snap_id
            meta["epochs"][epoch_id] = snap_id
            return True

        return self._commit(mutate)

    def update_schema(
        self, change: SchemaChange, epoch_id: str, seq: int | None = None
    ) -> bool:
        """Apply a DDL event as a metadata-only commit (no data rewrite).
        Reference semantics: AlterTableEventHandler.java:53-163.

        ``seq``: the DDL's log offset. An ``add_column`` given one records in
        ``wire_bounds`` that the new column id reads its wire field only for
        events with ``seq > s``, and, if the wire name was bound to another
        id, that the old binding ends at ``seq <= s``. The stream projection
        (streaming.job.project_to_table_schema) applies these intervals, so
        a batch can commit all its DDLs first and then merge once, and a
        replay that finds the DDLs already committed projects identically.
        Without ``seq`` the binding is unbounded (the old id simply loses it).

        ``batch`` (reference AlterTableColumnsEvent.java) applies its column
        sub-changes in order under ONE epoch/schema version — all-or-nothing,
        exactly one new schema id, matching the reference's single event at a
        single stream offset. ``rename_table`` (AlterTableNameEvent.java) is
        a pure metadata property change: data paths and column ids are keyed
        by table_uuid/ids, never by name, so nothing else moves.
        """

        def apply_one(meta: dict, fields: list[dict], ch: SchemaChange) -> list[dict]:
            if ch.kind == "add_column":
                if any(f["name"] == ch.name for f in fields):
                    raise _NoopDDL()
                cid = meta["next_column_id"]
                meta["next_column_id"] += 1
                fields.append({"id": cid, "name": ch.name, "type": normalize_sql_type(ch.type)})
                prev = meta["wire_bindings"].get(ch.name)
                meta["wire_bindings"][ch.name] = cid
                # wire_bounds: column id -> the (from, to] seq interval in
                # which it reads its wire field; absent = always
                bounds = meta.setdefault("wire_bounds", {})
                if seq is None:
                    bounds.pop(str(prev), None)
                else:
                    if prev is not None:
                        bounds.setdefault(str(prev), {"wire": ch.name, "from": None})["to"] = seq
                    bounds[str(cid)] = {"wire": ch.name, "from": seq, "to": None}
            elif ch.kind == "rename_column":
                f = next(f for f in fields if f["name"] == ch.old_name)
                f["name"] = ch.name
            elif ch.kind == "widen_type":
                f = next(f for f in fields if f["name"] == ch.name)
                if not is_legal_widening(f["type"], ch.type):
                    raise ValueError(f"illegal widening {f['type']} -> {ch.type}")
                # store the lattice spelling so later comparisons and the
                # Spark type mapping never see raw MySQL spellings
                f["type"] = normalize_sql_type(ch.type)
            elif ch.kind == "drop_column":
                fields = [f for f in fields if f["name"] != ch.name]
            else:
                raise ValueError(f"unknown schema change kind: {ch.kind}")
            return fields

        def mutate(meta: dict):
            if epoch_id in meta["epochs"]:
                return False
            if change.kind == "rename_table":
                meta["properties"]["table_name"] = change.name
                meta["epochs"][epoch_id] = meta["current_snapshot_id"] or 0
                return True
            cur_id = meta["current_schema_id"]
            fields = copy.deepcopy(meta["schemas"][str(cur_id)])
            subs = change.changes if change.kind == "batch" else (change,)
            applied_any = False
            for ch in subs:
                if ch.kind in ("batch", "rename_table"):
                    raise ValueError(f"{ch.kind} is not a column event")
                try:
                    fields = apply_one(meta, fields, ch)
                    applied_any = True
                except _NoopDDL:
                    continue  # e.g. add of an existing column: skip this sub
            if not applied_any:
                return False
            new_id = max(int(k) for k in meta["schemas"]) + 1
            meta["schemas"][str(new_id)] = fields
            meta["current_schema_id"] = new_id
            meta["epochs"][epoch_id] = meta["current_snapshot_id"] or 0
            return True

        return self._commit(mutate)


class _NoopDDL(Exception):
    """Raised when a DDL is a no-op (e.g. add of an existing column)."""
