"""Config-driven job runner — the reference's ``seatunnel.sh --config
job.conf`` entry point, re-expressed over this engine's connectors.

Reference lifecycle (SURVEY §3): a job config has ``env`` / ``source`` /
``transform`` / ``sink`` blocks; plugins are named (FakeSource, LocalFile,
Jdbc, Sql, Assert, Console, ...) and chained through named tables via
``result_table_name`` / ``source_table_name`` (seatunnel-core job parsing →
plugin discovery via plugin-mapping.properties).

Configs here are the JSON form — JSON is valid HOCON, and the container has
no HOCON parser for the sugar (unquoted keys, substitutions, includes), so a
reference ``.conf`` becomes this dict shape 1:1:

    {
      "env": {"job.mode": "BATCH"},
      "source": [{"plugin": "FakeSource", "result_table_name": "fake",
                  "row.num": 100,
                  "schema": {"fields": {"id": "bigint", "name": "string"}}}],
      "transform": [{"plugin": "Sql", "source_table_name": "fake",
                     "result_table_name": "t1",
                     "query": "SELECT id, UCASE(name) AS name FROM fake WHERE id > 5"}],
      "sink": [{"plugin": "Assert", "source_table_name": "t1",
                "rules": {"min_rows": 1}}]
    }

Every transform runs through the same operators the CDC engine uses; the
``Sql`` transform is the real Zeta SQL string engine (parse → validate with
the reference's rejections → scalar-function rewrite → Catalyst).

Streaming job.mode (the CDC path) is driven through CdcIngestJob directly —
this runner covers the BATCH EL(T) pipeline shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seatunnel_spark.functions.sql_engine import zeta_sql_transform
from seatunnel_spark.operators import transforms as tr
from seatunnel_spark.sinks.assert_sink import FieldRule, assert_sink
from seatunnel_spark.sources.files import read_file_source, write_file_sink


class ConfigError(ValueError):
    pass


# ------------------------------------------------------------- FakeSource
def fake_source(spark: SparkSession, opts: dict) -> DataFrame:
    """Deterministic FakeSource (reference connector-fake
    FakeDataGenerator.java): rows generated from the declared schema. The
    reference draws random values; here every cell is a pure function of
    (seed, row, field) so runs — and test assertions — are reproducible."""
    n = int(opts.get("row.num", 10))
    seed = str(opts.get("seed", 42))
    fields = (opts.get("schema") or {}).get("fields") or {}
    if not fields:
        raise ConfigError("FakeSource needs schema.fields")
    if opts.get("rows"):
        # explicit changelog rows (the reference's FakeSource `rows` option
        # with per-row RowKind, e.g. clickhouse_sink_cdc_changelog_case2.conf):
        # literal values in schema-field order plus an `op` column
        kind_map = {"INSERT": "I", "UPDATE_AFTER": "U",
                    "UPDATE_BEFORE": "-U", "DELETE": "D"}
        data = []
        for i, r in enumerate(opts["rows"]):
            kind = str(r.get("kind", "INSERT"))
            if kind not in kind_map:
                raise ConfigError(f"FakeSource row kind {kind!r} unknown")
            vals = r.get("fields")
            if not isinstance(vals, list) or len(vals) != len(fields):
                raise ConfigError(
                    f"FakeSource row needs {len(fields)} fields, got {vals!r}"
                )
            # seq = declared row order: the changelog is ordered, and the
            # LWW reduce at merge sinks must break same-key ties by that
            # order (the reference buffers rows in a LinkedHashMap — later
            # rows overwrite earlier). Without it an UPDATE_BEFORE or stale
            # INSERT image could arbitrarily beat the UPDATE_AFTER.
            data.append(tuple(vals) + (kind_map[kind], i))
        ddl = ", ".join(f"{name} {typ}" for name, typ in fields.items())
        return spark.createDataFrame(data, ddl + ", op string, seq bigint")
    df = spark.range(n).withColumnRenamed("id", "_row")
    cols = []
    # value ranges per integral type — generated values must fit the cast
    # (Spark 4's ANSI mode throws on overflow instead of nulling)
    int_range = {"tinyint": 128, "smallint": 32768, "int": 1 << 31, "bigint": 1 << 62}
    for name, typ in fields.items():
        h = F.md5(F.concat(F.lit(f"{seed}|{name}|"), F.col("_row").cast("string")))
        t = typ.strip().lower()
        if t in int_range:
            c = (
                F.conv(F.substring(h, 1, 12), 16, 10).cast("long")
                % F.lit(int_range[t])
            ).cast(t)
        elif t in ("double", "float"):
            c = (F.conv(F.substring(h, 1, 6), 16, 10).cast("double") / 1e3).cast(t)
        elif t == "boolean":
            c = (F.conv(F.substring(h, 1, 2), 16, 10).cast("int") % 2 == 0)
        elif t == "timestamp":
            c = F.timestamp_seconds(
                F.lit(1735689600) + F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % 31536000
            )
        else:  # string and anything else
            c = F.concat(F.lit(f"{name}_"), F.substring(h, 1, 8))
        cols.append(c.alias(name))
    return df.select(*cols)


# ------------------------------------------------------------- registries
def _source_df(spark: SparkSession, block: dict) -> DataFrame:
    plugin = block.get("plugin")
    if plugin == "FakeSource":
        return fake_source(spark, block)
    if plugin == "LocalFile":
        fmt = block.get("file_format_type", "parquet")
        if fmt == "text" and (block.get("schema") or {}).get("fields"):
            # the reference's typed text format (field_delimiter + declared
            # schema — seatunnel-format-text), not Spark's one-column text
            from pyspark.sql.types import _parse_datatype_string

            from seatunnel_spark.sources.files import (
                TEXT_SEPARATORS,
                read_delimited_text,
            )

            ddl = ", ".join(
                f"{n} {t}" for n, t in block["schema"]["fields"].items()
            )
            return read_delimited_text(
                spark,
                block["path"],
                _parse_datatype_string(ddl),
                field_delimiter=block.get("field_delimiter", TEXT_SEPARATORS[0]),
            )
        return read_file_source(
            spark,
            fmt,
            block["path"],
            options=block.get("options"),
        )
    if plugin == "Http":
        # REST source (connector-http-base surface: url/method/headers/
        # params/body/format/content_field/json_field/retry + pagination)
        from seatunnel_spark.sources.http import read_http_source

        return read_http_source(spark, block)
    if plugin == "Socket":
        # TCP text source (connector-socket): newline-delimited lines read
        # until the peer closes -> (value: string) rows
        from seatunnel_spark.sources.socket import socket_batch_source

        return socket_batch_source(spark, block)
    if plugin == "GoogleSheets":
        # Sheets values.get source (connector-google-sheets surface);
        # pre-obtained access_token (RS256 JWT signing needs RSA, not
        # stdlib), base_url override for tests
        from seatunnel_spark.sources.sheets import read_sheets_source

        return read_sheets_source(spark, block)
    if plugin == "OpenMldb":
        # bounded SQL read over the public APIServer REST surface
        # (connector-openmldb rides the proprietary SDK; zk-only
        # addressing is refused loudly in the reader)
        from seatunnel_spark.sources.openmldb import read_openmldb_source

        return read_openmldb_source(spark, block)
    if plugin == "Hudi":
        # COW snapshot read: .hoodie timeline -> latest committed file
        # slice per file group -> native parquet scan (sources/hudi.py)
        from seatunnel_spark.sources.hudi import read_hudi_source

        return read_hudi_source(spark, block)
    if plugin == "Jdbc":
        from seatunnel_spark.sources.jdbc import jdbc_partitioned_read

        return jdbc_partitioned_read(
            spark,
            block["url"],
            block["table"],
            split_column=block.get("partition_column"),
            num_partitions=int(block.get("partition_num", 8)),
            numeric=bool(block.get("partition_column_numeric", True)),
        )
    if plugin == "Hive":
        # metastore-less Hive-layout reader (sources/hive.py). The
        # reference's metastore_uri resolves name→location; here a
        # file:// URI (or explicit `warehouse`) IS the warehouse root —
        # thrift:// URIs need a real metastore and raise cleanly.
        from seatunnel_spark.sources.hive import read_hive_table

        warehouse = block.get("warehouse")
        uri = block.get("metastore_uri", "")
        if warehouse is None:
            if uri.startswith("file://"):
                warehouse = uri[len("file://"):]
            elif uri.startswith("thrift://"):
                raise ConfigError(
                    "thrift:// metastores need a Hive-enabled Spark session; "
                    "point metastore_uri at the warehouse (file://...) or set "
                    "`warehouse` for the metastore-less layout reader"
                )
            else:
                raise ConfigError("Hive source needs metastore_uri or warehouse")
        return read_hive_table(
            spark,
            warehouse,
            block["table_name"],
            file_format=block.get("file_format_type", "parquet"),
            read_partitions=block.get("read_partitions"),
            read_columns=block.get("read_columns"),
        )
    if plugin == "LakeTable":
        from seatunnel_spark.lake.table import LakeTable

        t = LakeTable.load(block["root"])
        if block.get("changes_from") is not None:
            return t.changes_between(
                spark, int(block["changes_from"]),
                int(block["changes_to"]) if block.get("changes_to") is not None else None,
                include_meta=bool(block.get("include_meta", False)),
            )
        return t.scan(
            spark,
            snapshot_id=int(block["snapshot_id"]) if block.get("snapshot_id") is not None else None,
        )
    raise ConfigError(f"unknown source plugin {plugin!r}")


def _apply_transform(block: dict, df: DataFrame, src_name: str) -> DataFrame:
    plugin = block.get("plugin")
    if plugin == "Sql":
        return zeta_sql_transform(df, block["query"], src_name)
    if plugin == "Filter":
        return tr.filter_fields(df, block["fields"])
    if plugin == "FieldMapper":
        return tr.field_mapper(df, block["field_mapper"])
    if plugin == "Copy":
        return tr.copy_fields(df, block["fields"])
    if plugin == "Replace":
        return tr.replace_field(
            df, block["replace_field"], block["pattern"],
            block.get("replacement", ""), bool(block.get("is_regex", False)),
        )
    if plugin == "Split":
        return tr.split_field(
            df, block["split_field"], block["separator"], block["output_fields"]
        )
    if plugin == "FilterRowKind":
        return tr.filter_row_kind(
            df, include=block.get("include_kinds"), exclude=block.get("exclude_kinds")
        )
    raise ConfigError(f"unknown transform plugin {plugin!r}")


def _run_sink(block: dict, df: DataFrame) -> dict:
    plugin = block.get("plugin")
    if plugin == "Socket":
        # TCP sink (connector-socket SocketClient): one JSON line per row
        # with bounded reconnect retries — executable with stdlib
        from seatunnel_spark.sources.socket import write_socket_rows

        if not block.get("host") or block.get("port") is None:
            raise ConfigError("Socket sink needs host and port")
        rows = [r.asDict() for r in df.collect()]
        n = write_socket_rows(
            rows, block["host"], int(block["port"]),
            max_retries=int(block.get("max_retries", 3)),
        )
        return {"written": True, "rows": n}
    if plugin == "Console":
        rows = df.limit(int(block.get("limit", 20))).collect()
        for r in rows:
            print(r)
        return {"rows_shown": len(rows)}
    if plugin == "Assert":
        rules = block.get("rules") or {}
        field_rules = [
            FieldRule(
                field=fr["field"],
                not_null=bool(fr.get("not_null", False)),
                min_value=fr.get("min_value"),
                max_value=fr.get("max_value"),
                regex=fr.get("regex"),
            )
            for fr in rules.get("field_rules", [])
        ]
        return assert_sink(
            df,
            min_rows=rules.get("min_rows"),
            max_rows=rules.get("max_rows"),
            field_rules=field_rules,
        )
    if plugin == "LocalFile":
        fmt = block.get("file_format_type", "parquet")
        if fmt == "text" and block.get("field_delimiter"):
            from seatunnel_spark.sources.files import write_delimited_text

            write_delimited_text(
                df,
                block["path"],
                field_delimiter=block["field_delimiter"],
                save_mode=block.get("save_mode", "error_if_exists"),
            )
            return {"written": True, "path": block["path"]}
        write_file_sink(
            df,
            fmt,
            block["path"],
            save_mode=block.get("save_mode", "error_if_exists"),
            partition_by=block.get("partition_by"),
        )
        return {"written": True, "path": block["path"]}
    if plugin == "Jdbc":
        from seatunnel_spark.sinks.jdbc import jdbc_upsert_write

        sql = jdbc_upsert_write(
            df,
            block["url"],
            block["table"],
            key=block["primary_keys"],
            dialect=block.get("dialect", "ansi"),
            staging_column_types=block.get("staging_column_types"),
        )
        return {"written": True, "upsert_sql": sql}
    if plugin == "LakeTable":
        from seatunnel_spark.lake.merge import merge_into
        from seatunnel_spark.lake.table import LakeTable

        key = block["primary_keys"]
        fields = [(n, t) for n, t in df.dtypes if n not in ("op", "seq")]
        table = LakeTable.create(
            block["root"], fields, key,
            num_buckets=int(block.get("num_buckets", 16)),
            save_mode=block.get("save_mode", "keep"),
        )
        batch = df
        if "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit("I"))
        # the reference sink skips UPDATE_BEFORE rows outright
        # (BufferReducedBatchStatementExecutor.java:56-58) — without this
        # the before-image would be applied as a regular upsert by the MERGE
        batch = batch.where(F.col("op") != "-U")
        if "seq" not in batch.columns:
            # arrival order is the LWW order (same convention as the
            # Clickhouse branch below)
            batch = batch.withColumn("seq", F.monotonically_increasing_id())
        # idempotent replay is OPT-IN via an explicit epoch_id (e.g. a date
        # partition tag); the default is a fresh epoch per run — a daily job
        # with a constant epoch would silently skip every run after the first
        import uuid as _uuid

        epoch = block.get("epoch_id") or f"config.{_uuid.uuid4().hex[:12]}"
        res = merge_into(batch.sparkSession, table, batch, epoch)
        return {"written": True, "merge": {k: res.get(k) for k in ("batch_rows", "skipped")}}
    if plugin == "Iceberg":
        # The one-config switch from the sandbox LakeTable format to a real
        # Iceberg catalog (lake/iceberg.py): same LWW-reduced guarded-MERGE
        # semantics, emitted as actual Iceberg Spark SQL. ``dry_run = true``
        # returns the statements without executing — usable (and tested)
        # without an Iceberg jar; a real deployment just configures its
        # catalog on the session and drops dry_run.
        from seatunnel_spark.lake.iceberg import IcebergSqlBackend

        dry = bool(block.get("dry_run", False))
        backend = IcebergSqlBackend(
            block["table"],
            block["primary_keys"],
            run_sql=None if dry else df.sparkSession.sql,
        )
        batch = df
        if "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit("I"))
        # skip UPDATE_BEFORE images — same contract as the LakeTable branch
        batch = batch.where(F.col("op") != "-U")
        if "seq" not in batch.columns:
            batch = batch.withColumn("seq", F.monotonically_increasing_id())
        cols = [c for c in batch.columns if c not in ("op", "seq")]
        fields = [(n, t) for n, t in batch.dtypes if n not in ("op", "seq")]
        if dry:
            return {
                "dry_run": True,
                "create_sql": backend.create_sql(
                    fields, num_buckets=int(block.get("num_buckets", 16))
                ),
                "merge_sql": backend.merge_sql("batch_src", cols),
            }
        import uuid as _uuid

        epoch = block.get("epoch_id") or f"config.{_uuid.uuid4().hex[:12]}"
        # First deployment has no table yet: CREATE TABLE IF NOT EXISTS is
        # idempotent, so run it unconditionally before the MERGE — the same
        # auto-create the LakeTable sink branch does, making the one-config
        # backend switch actually drop-in.
        backend.run_sql(
            backend.create_sql(fields, num_buckets=int(block.get("num_buckets", 16)))
        )
        res = backend.merge_into(batch, epoch)
        return {"written": True, "merge_sql": res["merge_sql"]}
    if plugin == "Paimon":
        # Paimon sink (connector-paimon surface mapped onto the Spark SQL
        # seam, lake/paimon.py): same LWW semantics as Iceberg/LakeTable;
        # dry_run returns the statements (no Paimon jar in this sandbox).
        from seatunnel_spark.lake.paimon import PaimonSqlBackend

        dry = bool(block.get("dry_run", False))
        backend = PaimonSqlBackend(
            block["table"],
            block["primary_keys"],
            run_sql=None if dry else df.sparkSession.sql,
        )
        batch = df
        if "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit("I"))
        batch = batch.where(F.col("op") != "-U")
        if "seq" not in batch.columns:
            batch = batch.withColumn("seq", F.monotonically_increasing_id())
        cols = [c for c in batch.columns if c not in ("op", "seq")]
        fields = [(n, t) for n, t in batch.dtypes if n not in ("op", "seq")]
        if dry:
            return {
                "dry_run": True,
                "create_sql": backend.create_sql(
                    fields, num_buckets=int(block.get("num_buckets", 16))
                ),
                "merge_sql": backend.merge_sql("batch_src", cols),
                "append_upsert_sql": backend.append_upsert_sql("batch_src", cols),
            }
        import uuid as _uuid

        epoch = block.get("epoch_id") or f"config.{_uuid.uuid4().hex[:12]}"
        backend.run_sql(
            backend.create_sql(fields, num_buckets=int(block.get("num_buckets", 16)))
        )
        res = backend.merge_into(batch, epoch)
        return {"written": True, "merge_sql": res["merge_sql"]}
    if plugin == "Clickhouse":
        # Reference connector-clickhouse sink (ClickhouseSinkWriter +
        # JdbcBatchStatementExecutorBuilder): upserts land as plain INSERTs
        # into a ReplacingMergeTree (newest row per ORDER BY key wins at
        # merge), deletes as lightweight DELETEs. Accepts the reference's
        # .conf options verbatim (host/database/table/username/password/
        # primary_key/allow_experimental_lightweight_delete). ``dry_run``
        # returns the statements without a server — same seam as Iceberg.
        from seatunnel_spark.sinks.jdbc import DIALECTS, jdbc_upsert_write

        dialect = DIALECTS["clickhouse"]
        key = block.get("primary_key") or block.get("primary_keys")
        key = [key] if isinstance(key, str) else list(key or [])
        if not key:
            raise ConfigError("Clickhouse sink needs primary_key")
        target = block["table"]
        batch = df
        if "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit("I"))
        # the reference sink skips UPDATE_BEFORE rows outright
        # (BufferReducedBatchStatementExecutor.java:56-58)
        batch = batch.where(F.col("op") != "-U")
        if "seq" not in batch.columns:
            # arrival order is the LWW order (the reference buffers in a
            # LinkedHashMap keyed by PK — later rows overwrite earlier)
            batch = batch.withColumn("seq", F.monotonically_increasing_id())
        from seatunnel_spark.operators.dedup import lww_reduce

        reduced = lww_reduce(batch, key)
        cols = [c for c in df.columns if c not in ("op", "seq")]
        upserts = reduced.where(F.col("op") != "D").select(*cols)
        deletes = reduced.where(F.col("op") == "D").select(*key)
        lightweight = bool(block.get("allow_experimental_lightweight_delete", False))
        upsert_sql = dialect.upsert_from_staging(target, f"{target}_STAGE", cols, key)
        delete_sql = dialect.delete_from_staging(
            target, f"{target}_DEL_STAGE", key, lightweight=lightweight
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "upsert_rows": upserts.count(),
                "delete_rows": deletes.count(),
                "upsert_sql": upsert_sql,
                "delete_sql": delete_sql,
            }
        url = f"jdbc:clickhouse://{block['host']}/{block.get('database', 'default')}"
        if block.get("username"):
            url += f"?user={block['username']}&password={block.get('password', '')}"
        executed = []
        if deletes.head(1):
            from seatunnel_spark.sources.jdbc import driver_connection

            deletes.write.format("jdbc").option("url", url).option(
                "dbtable", f"{target}_DEL_STAGE"
            ).option("truncate", "true").option(
                # ClickHouse rejects engineless CREATE TABLE (see dialect)
                "createTableOptions", dialect.staging_create_options
            ).mode("overwrite").save()
            conn = driver_connection(df.sparkSession, url)
            try:
                st = conn.createStatement()
                st.execute(delete_sql)
                st.close()
            finally:
                conn.close()
            executed.append(delete_sql)
        if upserts.head(1):
            executed.append(
                jdbc_upsert_write(upserts, url, target, key, dialect=dialect)
            )
        return {"written": True, "statements": executed}
    if plugin == "Doris":
        # Doris stream-load sink (write-cdc-changelog-to-doris.conf surface:
        # fenodes / username / password / table.identifier /
        # sink.label-prefix / sink.enable-2pc / sink.enable-delete /
        # doris.config). Renders the exact stream-load PUTs; dry_run
        # returns them un-executed (no Doris FE in this sandbox).
        import uuid as _uuid

        from seatunnel_spark.sinks.streamload import (
            doris_stream_load_request,
            requests_for_batch,
        )

        db, _, tbl = str(block["table.identifier"]).partition(".")
        if not tbl:
            raise ConfigError("Doris sink needs table.identifier = 'db.table'")
        cfg = dict(block.get("doris.config") or {})
        fmt = str(cfg.pop("format", "csv")).lower()
        cfg.pop("read_json_by_line", None)  # implied by fmt=json
        prefix = block.get("sink.label-prefix") or f"st-{_uuid.uuid4().hex[:8]}"
        enable_delete = str(block.get("sink.enable-delete", "false")).lower() == "true"
        batch = df
        if enable_delete and "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit("I"))
        if "op" in batch.columns:
            # UPDATE_BEFORE images are delete-signed ("1") by the serializer
            # only when delete handling is on; otherwise they are skipped
            # (same contract as the merge sinks above)
            if not enable_delete:
                batch = batch.where(F.col("op") != "-U")
        reqs = requests_for_batch(
            batch,
            lambda i, cols, rows: doris_stream_load_request(
                block["fenodes"], db, tbl, cols, rows,
                username=block.get("username", "root"),
                password=block.get("password", ""),
                label=f"{prefix}-{i}",
                fmt=fmt,
                enable_delete=enable_delete,
                enable_2pc=str(block.get("sink.enable-2pc", "false")).lower() == "true",
                props=cfg,
            ),
            chunk_rows=int(block.get("sink.buffer-count", 100_000)),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "StarRocks":
        # StarRocks stream-load sink (starrocks .conf surface: nodeUrls /
        # username / password / database / table / starrocks.config).
        import uuid as _uuid

        from seatunnel_spark.sinks.streamload import (
            requests_for_batch,
            starrocks_stream_load_request,
        )

        nodes = block.get("nodeUrls") or []
        if not nodes:
            raise ConfigError("StarRocks sink needs nodeUrls")
        cfg = dict(block.get("starrocks.config") or {})
        fmt = str(cfg.pop("format", "json")).lower()
        cfg.pop("strip_outer_array", None)  # always set, visitor contract
        prefix = block.get("sink.label-prefix") or f"st-{_uuid.uuid4().hex[:8]}"
        upsert_delete = "op" in df.columns
        reqs = requests_for_batch(
            df,
            lambda i, cols, rows: starrocks_stream_load_request(
                nodes[0], block["database"], block["table"], cols, rows,
                username=block.get("username", "root"),
                password=block.get("password", ""),
                label=f"{prefix}-{i}",
                fmt=fmt,
                enable_upsert_delete=upsert_delete,
                props=cfg,
            ),
            chunk_rows=int(block.get("batch_max_rows", 100_000)),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "GoogleFirestore":
        # Firestore sink (connector-google-firestore surface: project_id /
        # collection) over the public v1 documents:commit REST API; auth
        # takes a pre-obtained bearer token (RS256 signing needs RSA).
        from seatunnel_spark.sinks.firestore import requests_for_batch as fs_reqs

        if not block.get("project_id") or not block.get("collection"):
            raise ConfigError("GoogleFirestore sink needs project_id and collection")
        reqs = fs_reqs(
            df,
            block["project_id"],
            block["collection"],
            key_column=block.get("key_column"),
            batch_size=int(block.get("batch_size", 500)),
            access_token=block.get("access_token"),
            base_url=block.get("base_url", "https://firestore.googleapis.com"),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "Kudu":
        # Kudu sink (connector-kudu surface: kudu_master / kudu_table) over
        # the public Impala SQL surface: UPSERT INTO (Kudu's native keyed
        # upsert) + DELETE WHERE for CDC deletes. Binary RPC → dry_run-only.
        from seatunnel_spark.sinks.kudu import statements_for_batch as kudu_stmts

        if not block.get("kudu_table"):
            raise ConfigError("Kudu sink needs kudu_table")
        stmts = kudu_stmts(
            df,
            block["kudu_table"],
            key_columns=block.get("key_columns"),
            batch_size=int(block.get("batch_size", 1000)),
        )
        if not block.get("dry_run"):
            raise ConfigError(
                "Kudu sink is dry_run-only in this sandbox (binary RPC); run "
                "the rendered statements via impala-shell or Impala JDBC"
            )
        return {"dry_run": True, "statements": stmts}
    if plugin == "Tablestore":
        # Tablestore sink (connector-tablestore surface: end_point /
        # instance_name / access_key_id / access_key_secret / table /
        # batch_size / primary_keys) — PlainBuffer rows in the public
        # proto envelope, signed x-ots-* BatchWriteRow exchanges.
        import base64 as _b64
        import datetime as _dt

        from seatunnel_spark.sinks.tablestore import (
            requests_for_batch as ots_reqs,
        )

        for k in ("end_point", "instance_name", "access_key_id",
                  "access_key_secret", "table", "primary_keys"):
            if not block.get(k):
                raise ConfigError(f"Tablestore sink needs {k}")
        pks = block["primary_keys"]
        if isinstance(pks, str):
            pks = [p.strip() for p in pks.split(",") if p.strip()]
        reqs = ots_reqs(
            df,
            block["end_point"],
            block["instance_name"],
            block["access_key_id"],
            block["access_key_secret"],
            block["table"],
            pks,
            date=block.get("date") or _dt.datetime.now(_dt.timezone.utc)
            .strftime("%Y-%m-%dT%H:%M:%S.") + "000Z",
            batch_size=int(block.get("batch_size", 25)),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "headers": r.headers,
                     "body_b64": _b64.b64encode(r.body).decode()}
                    for r in reqs
                ],
            }
        return {"written": True,
                "responses": [len(r.execute()) for r in reqs]}
    if plugin == "Maxcompute":
        # MaxCompute sink (connector-maxcompute surface: accessId /
        # accesskey / endpoint / project / table_name / partition_spec /
        # overwrite / split_row) over the public ODPS REST instance
        # submission: signed POST /projects/{p}/instances per chunk.
        from email.utils import formatdate

        from seatunnel_spark.sinks.maxcompute import (
            requests_for_batch as odps_reqs,
        )

        for k in ("accessId", "accesskey", "endpoint", "project", "table_name"):
            if not block.get(k):
                raise ConfigError(f"Maxcompute sink needs {k}")
        reqs = odps_reqs(
            df,
            block["endpoint"],
            block["project"],
            block["table_name"],
            block["accessId"],
            block["accesskey"],
            date=block.get("date") or formatdate(usegmt=True),
            partition_spec=block.get("partition_spec"),
            overwrite=str(block.get("overwrite", "false")).lower() == "true",
            split_row=int(block.get("split_row", 10_000)),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "SelectDBCloud":
        # SelectDB Cloud sink (connector-selectdb-cloud surface:
        # load-url / table.identifier / cluster-name / sink.enable-delete):
        # staged uploads + the exact COPY INTO commit through /copy/query.
        import uuid as _uuid

        from seatunnel_spark.sinks.selectdb import (
            commit_request,
            copy_into_sql,
            upload_request,
        )
        from seatunnel_spark.sinks.streamload import (
            DORIS_DELETE_SIGN,
            _rows_body,
        )

        if not block.get("load-url") or not block.get("table.identifier"):
            raise ConfigError("SelectDBCloud sink needs load-url and table.identifier")
        enable_delete = str(block.get("sink.enable-delete", "false")).lower() == "true"
        batch = df
        if enable_delete and "op" not in batch.columns:
            batch = batch.withColumn("op", F.lit("I"))
        if "op" in batch.columns and not enable_delete:
            batch = batch.where(F.col("op") != "-U")
        cols = [c for c in batch.columns if c not in ("op", "seq")]
        sel = cols + (["op"] if "op" in batch.columns else [])
        rows = [r.asDict() for r in batch.select(*sel).collect()]
        chunk = int(block.get("sink.buffer-count", 100_000))
        prefix = block.get("sink.label-prefix") or f"st-{_uuid.uuid4().hex[:8]}"
        uploads, files = [], []
        for i in range(0, max(len(rows), 1), chunk):
            fname = f"{prefix}_{i // chunk}.csv"
            body = _rows_body(
                rows[i : i + chunk], cols, "csv",
                field_delimiter="\t", line_delimiter="\n",
                delete_col=DORIS_DELETE_SIGN if enable_delete else None,
            )
            files.append(fname)
            uploads.append(upload_request(
                block["load-url"], fname, body,
                username=block.get("username", "admin"),
                password=block.get("password", ""),
            ))
        sql = copy_into_sql(block["table.identifier"], files,
                            enable_delete=enable_delete,
                            props=block.get("selectdb.config"))
        commit = commit_request(
            block["load-url"], sql, cluster=block.get("cluster-name"),
            username=block.get("username", "admin"),
            password=block.get("password", ""),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "uploads": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in uploads
                ],
                "copy_sql": sql,
                "commit": {"url": commit.url, "body": commit.body},
            }
        resp = [r.execute() for r in uploads]
        resp.append(commit.execute())
        return {"written": True, "responses": resp}
    if plugin == "Sentry":
        # Sentry sink (connector-sentry surface: dsn / env / release):
        # each row captures as a message event on the public store API.
        from seatunnel_spark.sinks.sentry import requests_for_batch as sentry_reqs

        if not block.get("dsn"):
            raise ConfigError("Sentry sink needs dsn")
        reqs = sentry_reqs(
            df,
            block["dsn"],
            environment=block.get("env"),
            release=block.get("release"),
            limit=int(block.get("limit", 100)),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "DataHub":
        # Aliyun DataHub sink (connector-datahub surface: endpoint /
        # accessId / accessKey / project / topic / timeout / retryTimes)
        # over the documented PutRecords Web API (sinks/datahub.py).
        from email.utils import formatdate

        from seatunnel_spark.sinks.datahub import (
            requests_for_batch as dh_reqs,
        )

        for k in ("endpoint", "accessId", "accessKey", "project", "topic"):
            if not block.get(k):
                raise ConfigError(f"DataHub sink needs {k}")
        reqs = dh_reqs(
            df,
            block["endpoint"],
            block["project"],
            block["topic"],
            block["accessId"],
            block["accessKey"],
            date=block.get("date") or formatdate(usegmt=True),
            shard_id=block.get("shard_id"),
            chunk_rows=int(block.get("chunk_rows", 1000)),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        retries = int(block.get("retryTimes", 0))
        timeout_s = float(block.get("timeout", 60))
        responses = []
        for r in reqs:
            # Retry semantics — two documented divergences from the
            # reference DataHubWriter (alongside the per-field record
            # divergence noted in sinks/datahub.py):
            # 1. Granularity: a failed exchange is re-submitted WHOLE
            #    (chunk-level at-least-once) — if the server partially
            #    applied it, already-published records in that chunk
            #    duplicate on retry. The reference retries only
            #    result.getFailedRecords(). PutRecords gives no
            #    per-record ack on a transport failure, so chunk-level
            #    is the honest floor; shrink chunk_rows under retry to
            #    bound the duplication window.
            # 2. Exhaustion: we RAISE after retryTimes so the job fails
            #    loudly; the reference logs the exception and keeps the
            #    job alive (silent data loss by our reading).
            for attempt in range(retries + 1):
                try:
                    responses.append(r.execute(timeout_s=timeout_s))
                    break
                except Exception:
                    if attempt == retries:
                        raise
        return {"written": True, "responses": responses}
    if plugin == "IoTDB":
        # IoTDB sink (connector-iotdb surface: node_urls / key_device /
        # key_timestamp / key_measurement_fields / storage_group /
        # batch_size) over the public REST v2 insertRecords endpoint.
        from seatunnel_spark.sinks.iotdb import requests_for_batch as iot_reqs

        nodes = block.get("node_urls") or []
        if not nodes or not block.get("key_device") or not block.get("key_timestamp"):
            raise ConfigError(
                "IoTDB sink needs node_urls, key_device and key_timestamp"
            )
        reqs = iot_reqs(
            df,
            nodes[0],
            block["key_device"],
            block["key_timestamp"],
            key_measurement_fields=block.get("key_measurement_fields"),
            storage_group=block.get("storage_group"),
            batch_size=int(block.get("batch_size", 1024)),
            username=block.get("username", "root"),
            password=block.get("password", "root"),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "TDengine":
        # TDengine sink (connector-tdengine surface: url / username /
        # password / database / stable / tags_num + the reference's
        # [subtable, metric..., tag...] row layout) over the REST SQL API.
        from seatunnel_spark.sinks.tdengine import requests_for_batch as td_reqs

        if not block.get("stable"):
            raise ConfigError("TDengine sink needs stable")
        reqs = td_reqs(
            df,
            block.get("url", "http://localhost:6041"),
            block["stable"],
            int(block.get("tags_num", 0)),
            username=block.get("username", "root"),
            password=block.get("password", "taosdata"),
            database=block.get("database"),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "EmailSink":
        # Email sink (connector-email surface): headline + content + the
        # batch as a CSV attachment. dry_run returns the RFC-5322 text;
        # live delivery uses smtplib against email_host.
        from seatunnel_spark.sinks.email import message_for_batch, send_message

        required = ("email_from_address", "email_to_address")
        if not all(block.get(k) for k in required):
            raise ConfigError("EmailSink needs email_from_address and email_to_address")
        msg = message_for_batch(
            df,
            block["email_from_address"],
            block["email_to_address"],
            block.get("email_message_headline", "seatunnel batch"),
            block.get("email_message_content", ""),
        )
        if block.get("dry_run"):
            return {"dry_run": True, "message": msg.as_string()}
        send_message(
            msg,
            block["email_host"],
            port=int(block.get("email_smtp_port", 465)),
            password=block.get("email_authorization_code"),
            use_ssl=str(block.get("email_transport_protocol", "smtps")).lower()
            != "smtp",
        )
        return {"written": True}
    if plugin in ("Slack", "DingTalk", "Feishu"):
        # Notification family: each row posts as one text message. Plain
        # HTTPS JSON — executable; dry_run returns the rendered requests.
        import time as _time

        from seatunnel_spark.sinks import webhooks as wh

        msgs = wh.rows_as_messages(df, limit=int(block.get("limit", 100)))
        if plugin == "Slack":
            if not block.get("oauth_token") or not block.get("slack_channel"):
                raise ConfigError("Slack sink needs oauth_token and slack_channel")
            reqs = [wh.slack_post_message(block["oauth_token"],
                                          block["slack_channel"], m)
                    for m in msgs]
        elif plugin == "DingTalk":
            if not block.get("url"):
                raise ConfigError("DingTalk sink needs url")
            ts = int(block.get("timestamp_ms") or _time.time() * 1000)
            reqs = [wh.dingtalk_send(block["url"], m,
                                     secret=block.get("secret"),
                                     timestamp_ms=ts)
                    for m in msgs]
        else:
            if not block.get("url"):
                raise ConfigError("Feishu sink needs url")
            reqs = [wh.feishu_send(block["url"], m) for m in msgs]
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "Neo4j":
        # Neo4j sink (connector-neo4j surface: uri / username / password /
        # database / query / queryParamPosition / max_batch_size). Renders
        # (cypher, parameters) pairs; bolt is binary → dry_run-only.
        from seatunnel_spark.sinks.neo4j import queries_for_batch

        if not block.get("query"):
            raise ConfigError("Neo4j sink needs query")
        qs = queries_for_batch(
            df,
            block["query"],
            query_param_position=block.get("queryParamPosition"),
            max_batch_size=int(block.get("max_batch_size", 500)),
        )
        if not block.get("dry_run"):
            raise ConfigError(
                "Neo4j sink is dry_run-only in this sandbox (binary bolt "
                "protocol); run the rendered (query, parameters) pairs via "
                "any Neo4j driver"
            )
        return {"dry_run": True,
                "queries": [{"query": q, "parameters": p} for q, p in qs]}
    if plugin == "AmazonDynamoDB":
        # DynamoDB sink (connector-amazondynamodb surface: url / region /
        # table / batch_size). Renders BatchWriteItem payloads; SigV4
        # signing needs an SDK → dry_run-only in-sandbox.
        from seatunnel_spark.sinks.dynamodb import requests_for_batch as ddb_reqs

        if not block.get("table"):
            raise ConfigError("AmazonDynamoDB sink needs table")
        reqs = ddb_reqs(
            df,
            block["table"],
            batch_size=int(block.get("batch_size", 25)),
            key_columns=block.get("key_columns"),
        )
        if not block.get("dry_run"):
            raise ConfigError(
                "AmazonDynamoDB sink is dry_run-only in this sandbox (SigV4 "
                "signing requires an AWS SDK); send the rendered "
                "BatchWriteItem payloads with any SDK/CLI"
            )
        return {"dry_run": True, "requests": reqs}
    if plugin == "S3Redshift":
        # S3-Redshift sink (connector-s3-redshift): stage files, then run
        # the user's execute_sql with ${path} substituted at commit — the
        # exact two-step the reference's aggregated committer performs.
        if not block.get("path") or not block.get("execute_sql"):
            raise ConfigError("S3Redshift sink needs path and execute_sql")
        write_file_sink(
            df,
            block.get("file_format_type", "parquet"),
            block["path"],
            save_mode=block.get("save_mode", "error_if_exists"),
        )
        commit_sql = str(block["execute_sql"]).replace("${path}", block["path"])
        if block.get("dry_run", True):
            # COPY needs a live Redshift JDBC endpoint; the staged files +
            # rendered statement ARE the commit contract
            return {"staged": True, "path": block["path"],
                    "commit_sql": commit_sql}
        from seatunnel_spark.sources.jdbc import driver_connection

        conn = driver_connection(df.sparkSession, block["jdbc_url"])
        try:
            st = conn.createStatement()
            st.execute(commit_sql)
            st.close()
        finally:
            conn.close()
        return {"written": True, "commit_sql": commit_sql}
    if plugin == "Cassandra":
        # Cassandra sink (connector-cassandra surface: host / keyspace /
        # table / fields / batch_size / batch_type). Renders the
        # prepared-INSERT batches as literal CQL; binary native protocol →
        # dry_run-only in-sandbox.
        from seatunnel_spark.sinks.cassandra import statements_for_batch

        if not block.get("keyspace") or not block.get("table"):
            raise ConfigError("Cassandra sink needs keyspace and table")
        stmts = statements_for_batch(
            df,
            block["keyspace"],
            block["table"],
            fields=block.get("fields"),
            batch_size=int(block.get("batch_size", 500)),
            batch_type=str(block.get("batch_type", "UNLOGGED")),
        )
        if not block.get("dry_run"):
            raise ConfigError(
                "Cassandra sink is dry_run-only in this sandbox (binary "
                "native protocol); execute the rendered CQL with cqlsh or "
                "any driver"
            )
        return {"dry_run": True, "statements": stmts}
    if plugin == "InfluxDB":
        # InfluxDB sink (connector-influxdb surface: url / database /
        # measurement / key_tags / key_time). Line protocol over plain
        # HTTP — executable with stdlib; dry_run returns the requests.
        from seatunnel_spark.sinks.influxdb import requests_for_batch as flux_reqs

        if not block.get("url") or not block.get("measurement"):
            raise ConfigError("InfluxDB sink needs url and measurement")
        reqs = flux_reqs(
            df,
            block["url"],
            block.get("database", "default"),
            block["measurement"],
            key_tags=block.get("key_tags"),
            key_time=block.get("key_time"),
            batch_size=int(block.get("batch_size", 1024)),
            username=block.get("username"),
            password=block.get("password"),
            retention_policy=block.get("rp"),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "Hbase":
        # HBase sink (connector-hbase surface: zookeeper_quorum / table /
        # rowkey_column / rowkey_delimiter / family_name / version_column /
        # null_mode). Renders Put mutations + hbase-shell text; the RPC
        # protocol is protobuf-over-SASL, so dry_run-only in-sandbox.
        from seatunnel_spark.sinks.hbase import mutations_for_batch, shell_commands

        rk = block.get("rowkey_column")
        rk = [rk] if isinstance(rk, str) else list(rk or [])
        if not block.get("table") or not rk:
            raise ConfigError("Hbase sink needs table and rowkey_column")
        fam = dict(block.get("family_name") or {})
        default_family = fam.pop("all_columns", "info")
        muts = mutations_for_batch(
            df,
            rk,
            rowkey_delimiter=block.get("rowkey_delimiter", ""),
            family_map=fam,
            default_family=default_family,
            version_column=block.get("version_column"),
            null_mode=str(block.get("null_mode", "skip")).lower(),
            route_deletes=bool(block.get("route_deletes", False)),
        )
        if not block.get("dry_run"):
            raise ConfigError(
                "Hbase sink is dry_run-only in this sandbox (protobuf RPC); "
                "execute the rendered mutations via the HBase client or "
                "the hbase-shell text"
            )
        return {"dry_run": True, "mutations": muts,
                "shell": shell_commands(muts, block["table"])}
    if plugin == "MongoDB":
        # MongoDB sink (connector-mongodb surface: uri / database /
        # collection / primary-key / upsert-enable). Renders ordered bulk
        # write commands; the wire protocol is binary, so only dry_run is
        # executable in-sandbox — a real deployment uses the Spark MongoDB
        # connector or any driver with these exact commands.
        from seatunnel_spark.sinks.mongodb import commands_for_batch

        pk = block.get("primary-key") or block.get("primary_keys")
        pk = [pk] if isinstance(pk, str) else list(pk or [])
        if not block.get("collection") or not pk:
            raise ConfigError("MongoDB sink needs collection and primary-key")
        cmds = commands_for_batch(
            df,
            block["collection"],
            pk,
            upsert=bool(block.get("upsert-enable", True)),
        )
        if not block.get("dry_run"):
            raise ConfigError(
                "MongoDB sink is dry_run-only in this sandbox (binary wire "
                "protocol); execute the rendered commands with a driver or "
                "use the Spark MongoDB connector"
            )
        return {"dry_run": True, "database": block.get("database"),
                "commands": cmds}
    if plugin == "Redis":
        # Redis sink (connector-redis surface: host / port / auth / user /
        # key / data_type / expire). dry_run returns the rendered commands.
        from seatunnel_spark.sinks.redis import batch_commands, execute_commands

        if not block.get("host") or not block.get("key"):
            raise ConfigError("Redis sink needs host and key")
        cmds = batch_commands(
            df,
            key_field=block["key"],
            data_type=str(block.get("data_type", "key")),
            expire=int(block.get("expire", -1)),
        )
        if block.get("dry_run"):
            return {"dry_run": True, "commands": cmds}
        replies = execute_commands(
            block["host"], int(block.get("port", 6379)), cmds,
            auth=block.get("auth"), user=block.get("user"),
        )
        return {"written": True, "replies": len(replies)}
    if plugin == "Elasticsearch":
        # ES bulk sink (connector-elasticsearch surface: hosts / index /
        # primary_keys / key_delimiter / max_batch_size; index may embed
        # ${field} variables). dry_run returns the rendered bulk requests.
        from seatunnel_spark.sinks.elasticsearch import requests_for_batch as es_reqs

        hosts = block.get("hosts") or []
        if not hosts or not block.get("index"):
            raise ConfigError("Elasticsearch sink needs hosts and index")
        pk = block.get("primary_keys")
        reqs = es_reqs(
            df,
            hosts[0],
            block["index"],
            primary_keys=[pk] if isinstance(pk, str) else pk,
            key_delimiter=block.get("key_delimiter", "_"),
            max_batch_size=int(block.get("max_batch_size", 10)),
            username=block.get("username"),
            password=block.get("password"),
        )
        if block.get("dry_run"):
            return {
                "dry_run": True,
                "requests": [
                    {"url": r.url, "method": r.method,
                     "headers": r.headers, "body": r.body}
                    for r in reqs
                ],
            }
        return {"written": True, "responses": [r.execute() for r in reqs]}
    if plugin == "Hive":
        # HiveSink analog (fakesource_to_hive.conf surface: hive_table_name,
        # hive_metastore_uris, partition_by, sink_columns) — dynamic
        # partitioned write into the warehouse layout; same file://-as-
        # warehouse convention as the source.
        from seatunnel_spark.sources.hive import write_hive_table

        warehouse = block.get("warehouse")
        uri = block.get("hive_metastore_uris", block.get("metastore_uri", ""))
        if warehouse is None:
            if uri.startswith("file://"):
                warehouse = uri[len("file://"):]
            else:
                raise ConfigError(
                    "Hive sink needs a file:// hive_metastore_uris (warehouse "
                    "root) or `warehouse` in the metastore-less layout"
                )
        path = write_hive_table(
            df,
            warehouse,
            block.get("hive_table_name") or block["table_name"],
            partition_by=block.get("partition_by"),
            sink_columns=block.get("sink_columns"),
            file_format=block.get("file_format_type", "parquet"),
            mode=block.get("save_mode", "append"),
        )
        return {"written": True, "path": path}
    raise ConfigError(f"unknown sink plugin {plugin!r}")


def register_config_udf(spark: SparkSession, name: str, spec: dict) -> None:
    """Register one user scalar function from a config ``udf`` block::

        udf {
          DOUBLE_LEN { module = "my_pkg.udfs", function = "double_len",
                       returns = "bigint" }
        }

    ``module``/``function`` locate a Python callable (the ZetaUDF
    "classpath" analog). If it is already a Spark UDF (e.g. decorated with
    ``@pandas_udf``) it registers as-is; a plain callable over pandas Series
    is wrapped as an Arrow-vectorized pandas_udf with the declared
    ``returns`` type — never a row-at-a-time Python UDF."""
    import importlib

    if not isinstance(spec, dict) or "module" not in spec or "function" not in spec:
        raise ConfigError(f"udf {name!r} needs module and function")
    try:
        mod = importlib.import_module(spec["module"])
        fn = getattr(mod, spec["function"])
    except (ImportError, AttributeError) as e:
        raise ConfigError(f"udf {name!r}: cannot load {spec['module']}.{spec['function']}: {e}")
    if not hasattr(fn, "returnType"):  # plain callable → vectorize it
        returns = spec.get("returns")
        if not returns:
            raise ConfigError(f"udf {name!r}: plain functions need a returns type")
        from pyspark.sql.functions import pandas_udf

        fn = pandas_udf(returns)(fn)
    spark.udf.register(name, fn)


def _run_cdc_streaming_job(spark: SparkSession, config: dict) -> dict[str, dict]:
    """The reference's primary UX — a streaming CDC .conf (mysqlcdc_to_*.conf
    shape) — mapped onto CdcIngestJob: one ``CdcChangelog`` source block (a
    changelog topic directory in a queue wire format, or the native typed
    parquet log) streaming into one ``LakeTable`` sink block with
    exactly-once epochs, checkpoint/restore, DDL evolution, lineage and
    metrics — everything the engine path has, driven purely from config.

        env    { job.mode = "STREAMING" }
        source { CdcChangelog { topic_dir = "...", format = "canal-json",
                                schema { fields { repo = string, ... } } } }
        sink   { LakeTable { root = "...", primary_keys = [repo, path],
                             checkpoint_dir = "..." } }

    ``format``: 'parquet-events' (default, the native typed log) or a queue
    format (sources.queue.WIRE_FORMATS). A 'parquet-events' log must give
    every event a unique ``seq`` (its log offset): the merge drops its LWW
    tie-break on that contract (CdcIngestJob docstring). Queue formats
    order by envelope timestamp and keep the tie-break.

    availableNow semantics (StopMode LATEST): the call drains the current
    log and returns; rerunning resumes from the checkpoint."""
    from seatunnel_spark.schema import sqltype_to_spark
    from seatunnel_spark.streaming.job import CdcIngestJob

    sources = [b for b in (config.get("source") or [])
               if b.get("plugin") in ("CdcChangelog", "Cdc")]
    sinks = [b for b in (config.get("sink") or [])
             if b.get("plugin") in ("LakeTable", "MultiLakeTable", "Jdbc")]
    if len(sources) != 1 or len(sinks) != 1:
        raise ConfigError(
            "a CDC streaming job needs exactly one CdcChangelog source and "
            "one LakeTable, MultiLakeTable, or Jdbc sink"
        )
    if sinks[0].get("plugin") == "MultiLakeTable":
        return _run_multi_table_streaming_job(spark, config, sources[0], sinks[0])
    if sinks[0].get("plugin") == "Jdbc":
        return _run_cdc_jdbc_streaming_job(spark, config, sources[0], sinks[0])
    if config.get("transform"):
        raise ConfigError(
            "transforms on the CDC path are not supported from config — the "
            "changelog already carries typed rows (use the batch pipeline "
            "for ELT transforms)"
        )
    src, sink = sources[0], sinks[0]
    wire = src.get("format", "parquet-events")
    row_schema = None
    if wire != "parquet-events":
        fields = (src.get("schema") or {}).get("fields") or {}
        if not fields:
            raise ConfigError("CdcChangelog with a queue format needs schema.fields")
        from pyspark.sql import types as T

        row_schema = T.StructType(
            [T.StructField(n, sqltype_to_spark(t), True) for n, t in fields.items()]
        )
        table_fields = [(n, t.strip().lower()) for n, t in fields.items()]
    else:
        from seatunnel_spark.schema import REPO_FIELDS

        table_fields = REPO_FIELDS
    key = sink["primary_keys"]
    from seatunnel_spark.lake.table import LakeTable

    num_buckets = int(sink.get("num_buckets", 16))
    if not LakeTable.exists(sink["root"]):
        LakeTable.create(sink["root"], table_fields, key, num_buckets)
    job = CdcIngestJob(
        spark,
        table_root=sink["root"],
        events_dir=src["topic_dir"],
        checkpoint_dir=sink.get("checkpoint_dir") or f"{sink['root']}_ckpt",
        num_buckets=num_buckets,
        wire_format=wire,
        wire_row_schema=row_schema,
    )
    # StartupMode from config (reference startup.mode option): INITIAL runs
    # the chunked snapshot phase over base_dir first (low/high fences fold
    # in-window events, idempotent via the snapshot epoch), then tails;
    # EARLIEST (default) streams the whole log; TIMESTAMP via start_ts.
    mode = str(src.get("startup.mode", "earliest")).lower()
    if mode == "initial":
        if not src.get("base_dir"):
            raise ConfigError("startup.mode = initial needs base_dir "
                              "(the initial table state to snapshot)")
        job.ensure_snapshot(
            spark.read.parquet(src["base_dir"]),
            job._bounded_log(),
            table_fields,
            key,
            max_fence=int(src.get("snapshot.fence", 0)),
        )
    elif mode not in ("earliest", "timestamp", "specific_offset"):
        raise ConfigError(f"unknown startup.mode {mode!r}")
    start_seq = stop_seq = None
    if mode == "specific_offset":
        # reference SourceOptions.java:55-66: startup.specific-offset.file/pos
        from seatunnel_spark.offsets import BinlogOffset

        f = src.get("startup.specific-offset.file")
        p = src.get("startup.specific-offset.pos")
        if f is None or p is None:
            raise ConfigError(
                "startup.mode = specific_offset needs "
                "startup.specific-offset.file and .pos"
            )
        start_seq = job.resolve_specific_offset(BinlogOffset(str(f), int(p)))
        if start_seq is None:
            start_seq = 1 << 62  # nothing at/after: empty bounded replay
    if src.get("stop.specific-offset.file") is not None:
        # StopMode SPECIFIC via binlog coordinates (SourceOptions.java:80-91):
        # stop BEFORE the first event at-or-after (file, pos) — the
        # reference's binlog task self-terminates once it reaches the stop
        # offset. On the seq scale that is `first_at_or_after - 1`.
        from seatunnel_spark.offsets import BinlogOffset

        f = src["stop.specific-offset.file"]
        p = src.get("stop.specific-offset.pos")
        if p is None:
            raise ConfigError("stop.specific-offset.file needs .pos")
        boundary = job.resolve_specific_offset(BinlogOffset(str(f), int(p)))
        stop_seq = (boundary - 1) if boundary is not None else None
    job.run_incremental(
        available_now=True,
        timeout_s=float(config.get("env", {}).get("job.timeout.s", 600)),
        start_seq=start_seq,
        stop_seq=stop_seq,
        start_ts=src.get("start_ts"),
        stop_ts=src.get("stop_ts"),
    )
    table = LakeTable.load(sink["root"])
    return {
        "LakeTable#0": {
            "written": True,
            "rows": table.scan(spark).count(),
            "version": table.version,
            "metrics_dir": job.metrics_dir,
            "lineage_dir": job.lineage_dir,
        }
    }


def _run_cdc_jdbc_streaming_job(
    spark: SparkSession, config: dict, src: dict, sink: dict
) -> dict[str, dict]:
    """CDC changelog → JDBC table with exactly-once epochs, from config —
    the reference's mysqlcdc_to_mysql.conf scenario (connector-jdbc XA sink;
    see streaming/jdbc_stream.py for the local-transaction epoch-ledger
    mapping)::

        source { CdcChangelog { topic_dir = "...", format = "canal-json",
                                schema { fields { id = bigint, ... } } } }
        sink   { Jdbc { url = "jdbc:derby:...", table = "TGT",
                        primary_keys = [id], is_exactly_once = true,
                        checkpoint_dir = "..." } }

    The target table must already exist with a key constraint (the
    reference likewise writes into an existing table). DDL events are
    skipped with a warning — JDBC targets don't evolve mid-stream."""
    from pyspark.sql import types as T

    from seatunnel_spark.schema import event_schema, sqltype_to_spark
    from seatunnel_spark.streaming.jdbc_stream import JdbcExactlyOnceStreamSink

    url = sink.get("url")
    target = sink.get("table")
    key = sink.get("primary_keys")
    if not url or not target or not key:
        raise ConfigError("Jdbc CDC sink needs url, table, and primary_keys")
    ckpt = sink.get("checkpoint_dir")
    if not ckpt:
        raise ConfigError("Jdbc CDC sink needs checkpoint_dir (exactly-once "
                          "resume point for source offsets)")
    wire = src.get("format", "parquet-events")
    mft = int(src.get("max_files_per_trigger", 16))
    if wire != "parquet-events":
        from seatunnel_spark.sources.queue import read_changelog_stream

        fields = (src.get("schema") or {}).get("fields") or {}
        if not fields:
            raise ConfigError("CdcChangelog with a queue format needs schema.fields")
        row_schema = T.StructType(
            [T.StructField(n, sqltype_to_spark(t), True) for n, t in fields.items()]
        )
        stream = read_changelog_stream(
            spark, src["topic_dir"], wire, row_schema, mft
        )
        columns = list(fields)
    else:
        from seatunnel_spark.schema import REPO_FIELDS

        stream = (
            spark.readStream.schema(event_schema())
            .option("maxFilesPerTrigger", mft)
            .parquet(src["topic_dir"])
        )
        columns = [n for n, _ in REPO_FIELDS]
    js = JdbcExactlyOnceStreamSink(
        url=url,
        target=target,
        key=list(key),
        dialect=str(sink.get("dialect", "ansi")),
        columns=columns,
        staging_column_types=sink.get("staging_column_types"),
    )
    mode = str(src.get("startup.mode", "earliest")).lower()
    if mode == "initial":
        if not src.get("base_dir"):
            raise ConfigError("startup.mode = initial needs base_dir")
        js.ensure_snapshot(spark.read.parquet(src["base_dir"]).select(*columns))
    elif mode != "earliest":
        raise ConfigError(
            f"startup.mode {mode!r} not supported on the Jdbc CDC sink "
            "(use earliest or initial; offset modes need the lake path)"
        )
    js.run_stream(
        stream, ckpt,
        timeout_s=float(config.get("env", {}).get("job.timeout.s", 600)),
    )
    rows = js._count(spark, target)
    return {
        "Jdbc#0": {
            "written": True,
            "rows": rows,
            "epochs": js.epoch_lineage(spark),
        }
    }


def _run_multi_table_streaming_job(
    spark: SparkSession, config: dict, src: dict, sink: dict
) -> dict[str, dict]:
    """One changelog topic → many destination tables (the reference's
    MultipleRowType / kafka-topic-to-many-tables scenario) from config::

        sink {
          MultiLakeTable {
            roots { alpha = "/lake/alpha", beta = "/lake/beta" }
            primary_keys = [repo, path]
            checkpoint_dir = "/ckpt"
            landing_dir = "/land"        # optional: partitionBy(_table) zone
          }
        }

    Envelope table ids route each row (and each DDL, at its offset) to its
    own LakeTable with per-(batch, table) epochs — MultiTableRouter
    semantics, config-driven."""
    from pyspark.sql import types as T

    from seatunnel_spark.lake.table import LakeTable
    from seatunnel_spark.schema import sqltype_to_spark
    from seatunnel_spark.sources.queue import read_changelog_stream
    from seatunnel_spark.streaming.multi_table import MultiTableRouter

    wire = src.get("format")
    fields = (src.get("schema") or {}).get("fields") or {}
    if not wire or not fields:
        raise ConfigError("MultiLakeTable needs a queue-format CdcChangelog "
                          "source with schema.fields")
    row_schema = T.StructType(
        [T.StructField(n, sqltype_to_spark(t), True) for n, t in fields.items()]
    )
    table_fields = [(n, t.strip().lower()) for n, t in fields.items()]
    key = sink["primary_keys"]
    roots = sink.get("roots") or {}
    if not roots:
        raise ConfigError("MultiLakeTable needs a roots { name = path } block")
    num_buckets = int(sink.get("num_buckets", 16))
    tables = {}
    for name, root in roots.items():
        if not LakeTable.exists(root):
            LakeTable.create(root, table_fields, key, num_buckets)
        tables[name] = LakeTable.load(root)
    router = MultiTableRouter(
        spark, tables,
        landing_dir=sink.get("landing_dir"),
        landing_threshold=int(sink.get("landing_threshold", 8)),
    )
    stream = read_changelog_stream(
        spark, src["topic_dir"], wire, row_schema, keep_table=True
    )
    ckpt = sink.get("checkpoint_dir")
    if not ckpt:
        raise ConfigError("MultiLakeTable needs checkpoint_dir")
    router.run_stream(
        stream, ckpt, available_now=True,
        timeout_s=float(config.get("env", {}).get("job.timeout.s", 600)),
    )
    out = {}
    for name, t in tables.items():
        t.refresh()
        out[name] = {"rows": t.scan(spark).count(), "version": t.version}
    return {"MultiLakeTable#0": out}


def run_job(spark: SparkSession, config: dict) -> dict[str, dict]:
    """Execute a BATCH job config: sources register named tables, transforms
    chain through source/result table names, every sink consumes its named
    input. Returns {sink descriptor: sink result}. A transform with no
    ``source_table_name`` consumes the previous block's result, matching the
    reference's implicit single-pipeline chaining.

    A ``udf`` block registers user scalar functions before any transform
    runs, so a Sql transform can call them by name — the Python analog of
    the reference's ServiceLoader-discovered ZetaUDF SPI (sql/zeta/
    ZetaUDF.java): the classpath entry becomes an import path."""
    for name, spec in (config.get("udf") or {}).items():
        register_config_udf(spark, name, spec)
    sources = config.get("source") or []
    if any(b.get("plugin") in ("CdcChangelog", "Cdc") for b in sources):
        return _run_cdc_streaming_job(spark, config)
    tables: dict[str, DataFrame] = {}
    last: str | None = None
    for block in config.get("source") or []:
        name = block.get("result_table_name") or f"_src{len(tables)}"
        tables[name] = _source_df(spark, block)
        last = name
    if not tables:
        raise ConfigError("config has no source block")
    for block in config.get("transform") or []:
        src = block.get("source_table_name") or last
        if src not in tables:
            raise ConfigError(f"transform reads unknown table {src!r}")
        out = _apply_transform(block, tables[src], src)
        name = block.get("result_table_name") or f"_t{len(tables)}"
        tables[name] = out
        last = name
    results: dict[str, dict] = {}
    for i, block in enumerate(config.get("sink") or []):
        src = block.get("source_table_name") or last
        if src not in tables:
            raise ConfigError(f"sink reads unknown table {src!r}")
        results[f"{block.get('plugin')}#{i}"] = _run_sink(block, tables[src])
    return results
