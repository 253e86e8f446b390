"""Schema-change parity: table rename (AlterTableNameEvent.java), batched
column events (AlterTableColumnsEvent.java — a list of column changes at ONE
log offset, applied atomically under one schema version), and StartupMode
TIMESTAMP (StartupMode.java — resolve an event time to a log offset)."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from seatunnel_spark import oracle
from seatunnel_spark.lake import LakeTable, merge_into
from seatunnel_spark.schema import REPO_FIELDS, REPO_KEY, SchemaChange, event_schema
from seatunnel_spark.sources import generator as gen
from seatunnel_spark.streaming.job import CdcIngestJob

ROWS1 = [
    ("o/r1", "a.py", "c1", "py", "print(1)", "I", 0),
    ("o/r1", "b.py", "c2", "py", "print(2)", "I", 1),
]


def _batch_df(spark, rows):
    return spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string, op string, seq long",
    )


EVENT_COLUMNS = ["seq", "txn_id", "op", "repo", "path", "commit", "lang",
                 "content", "ddl", "extra"]


def _write_events(spark, events_dir, rows):
    """One parquet event file from (seq, txn, op, repo, path, commit, lang,
    content, ddl, extra) tuples; ts is EPOCH0 + seq seconds."""
    ev = pd.DataFrame(rows, columns=EVENT_COLUMNS)
    ev["ts"] = pd.Timestamp(gen.EPOCH0) + pd.to_timedelta(ev["seq"], unit="s")
    spark.createDataFrame(ev, event_schema()).coalesce(1).write.parquet(
        str(events_dir), mode="overwrite"
    )
    return ev


def _data_epochs(table):
    return [e for e in table.meta["epochs"] if ".s" in e and not e.endswith(".compact")]


@pytest.fixture()
def table(tmp_path):
    return LakeTable.create(str(tmp_path / "t"), REPO_FIELDS, REPO_KEY, num_buckets=4)


def test_rename_table_metadata_only(spark, table):
    merge_into(spark, table, _batch_df(spark, ROWS1), "e1")
    v = table.version
    assert table.update_schema(SchemaChange(kind="rename_table", name="repos_v2"), "d1")
    assert table.meta["properties"]["table_name"] == "repos_v2"
    # metadata-only: same schema id, data still readable
    assert table.meta["current_schema_id"] == 0
    assert table.scan(spark).count() == 2
    # idempotent under the same epoch
    assert table.update_schema(SchemaChange(kind="rename_table", name="x"), "d1") is False
    assert table.meta["properties"]["table_name"] == "repos_v2"
    assert table.version == v + 1


def test_batched_column_events_one_schema_version(spark, table):
    merge_into(spark, table, _batch_df(spark, ROWS1), "e1")
    batch = SchemaChange(
        kind="batch",
        changes=(
            SchemaChange(kind="add_column", name="stars", type="int"),
            SchemaChange(kind="add_column", name="forks", type="int"),
            SchemaChange(kind="rename_column", old_name="commit", name="commit_sha"),
        ),
    )
    # JSON round-trip (the wire form a DDL event carries)
    assert SchemaChange.from_json(batch.to_json()) == batch

    sid_before = table.meta["current_schema_id"]
    assert table.update_schema(batch, "d1")
    # exactly ONE new schema version for the whole batch
    assert table.meta["current_schema_id"] == sid_before + 1
    names = [f["name"] for f in table.schema_fields()]
    assert "stars" in names and "forks" in names and "commit_sha" in names
    assert "commit" not in names
    # old data files align by column id: renamed column keeps its values
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["commit_sha"] == "c1" and got["a.py"]["stars"] is None
    # replay of the same epoch is a no-op
    assert table.update_schema(batch, "d1") is False

    # a no-op sub-change (re-add existing column) skips that sub only
    batch2 = SchemaChange(
        kind="batch",
        changes=(
            SchemaChange(kind="add_column", name="stars", type="int"),
            SchemaChange(kind="widen_type", name="forks", type="bigint"),
        ),
    )
    assert table.update_schema(batch2, "d2")
    assert dict(table.scan(spark).dtypes)["forks"] == "bigint"

    # nested batches / rename_table inside a batch are rejected
    with pytest.raises(ValueError):
        table.update_schema(
            SchemaChange(kind="batch", changes=(batch,)), "d3"
        )


def test_batch_ddl_through_the_stream(spark, tmp_path):
    """A batched column event at one log offset, delivered through the
    incremental stream: later events' new-column values ride in `extra` and
    land in the right columns (id-bound wire bindings)."""
    root = str(tmp_path / "t")
    LakeTable.create(root, REPO_FIELDS, REPO_KEY, num_buckets=2)
    ddl = SchemaChange(
        kind="batch",
        changes=(
            SchemaChange(kind="add_column", name="stars", type="int"),
            SchemaChange(kind="add_column", name="forks", type="int"),
        ),
    ).to_json()
    rename = SchemaChange(kind="rename_table", name="repos_renamed").to_json()
    rows = [
        # seq, txn, op, repo, path, commit, lang, content, ddl, extra
        (0, 0, "I", "o/r1", "a.py", "c0", "py", "v0", None, None),
        (1, 0, "DDL", None, None, None, None, None, ddl, None),
        (2, 1, "U", "o/r1", "a.py", "c1", "py", "v1", None,
         json.dumps({"stars": "5", "forks": "7"})),
        (3, 1, "DDL", None, None, None, None, None, rename, None),
        (4, 2, "I", "o/r2", "b.py", "c2", "py", "v2", None,
         json.dumps({"stars": "9"})),
    ]
    ev = pd.DataFrame(
        rows,
        columns=["seq", "txn_id", "op", "repo", "path", "commit", "lang",
                 "content", "ddl", "extra"],
    )
    ev["ts"] = pd.Timestamp(gen.EPOCH0) + pd.to_timedelta(ev["seq"], unit="s")
    events_dir = str(tmp_path / "events")
    import os

    os.makedirs(events_dir)
    spark.createDataFrame(ev, event_schema()).coalesce(1).write.parquet(
        events_dir, mode="overwrite"
    )
    job = CdcIngestJob(spark, root, events_dir, str(tmp_path / "c"), num_buckets=2)
    job.run_incremental(available_now=True, timeout_s=300)

    table = LakeTable.load(root)
    assert table.meta["properties"]["table_name"] == "repos_renamed"
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["stars"] == 5 and got["a.py"]["forks"] == 7
    assert got["b.py"]["stars"] == 9 and got["b.py"]["forks"] is None
    assert got["a.py"]["content"] == "v1"


def test_rename_then_add_freed_name_takes_fused_path(spark, tmp_path):
    """A batch holding `rename commit->commit_sha` then `add_column commit`
    re-binds wire field 'commit' to the NEW column id. It still commits one
    data epoch: the old id's binding ends at the add's seq and the new id's
    starts after it, so the pre-rename value lives in the renamed column and
    the re-added 'commit' column holds nothing for pre-DDL rows."""
    root = str(tmp_path / "t")
    LakeTable.create(root, REPO_FIELDS, REPO_KEY, num_buckets=2)
    rename = SchemaChange(
        kind="rename_column", old_name="commit", name="commit_sha"
    ).to_json()
    add = SchemaChange(kind="add_column", name="commit", type="string").to_json()
    _write_events(spark, tmp_path / "events", [
        (0, 0, "I", "o/r1", "a.py", "c0", "py", "v0", None, None),
        (1, 0, "DDL", None, None, None, None, None, rename, None),
        (2, 0, "DDL", None, None, None, None, None, add, None),
    ])
    job = CdcIngestJob(spark, root, str(tmp_path / "events"), str(tmp_path / "c"),
                       num_buckets=2)
    job.run_incremental(available_now=True, timeout_s=300)

    table = LakeTable.load(root)
    assert _data_epochs(table) == ["b0.s0"]
    names = [f["name"] for f in table.schema_fields()]
    assert "commit_sha" in names and "commit" in names
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["commit_sha"] == "c0"
    assert got["a.py"]["commit"] is None
    assert got["a.py"]["content"] == "v0"


def test_timestamp_startup_mode(spark, tmp_path):
    """StartupMode TIMESTAMP: resolve ts → seq with one log query, then
    bounded replay from that offset equals the oracle over the log tail."""
    paths = gen.write_fixture(
        str(tmp_path / "fx"), 100, 400, seed=14, n_event_files=3, with_ddl=False
    )
    events = pd.read_parquet(paths["events"])
    start_ts = gen.EPOCH0 + pd.Timedelta(seconds=150)

    LakeTable.create(str(tmp_path / "t"), REPO_FIELDS, REPO_KEY, num_buckets=4)
    job = CdcIngestJob(spark, str(tmp_path / "t"), paths["events"],
                       str(tmp_path / "c"), num_buckets=4)
    # ts is EPOCH0 + seq seconds, so the resolved offset is exact
    assert job.resolve_timestamp(start_ts) == 150

    empty_base = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content"])
    expected, _ = oracle.replay(empty_base, events[events["seq"] >= 150])
    job.run_incremental(available_now=True, timeout_s=300, start_ts=start_ts)

    got = LakeTable.load(str(tmp_path / "t")).scan(spark).toPandas()
    got = got.sort_values(["repo", "path"]).reset_index(drop=True)
    assert len(got) == len(expected)
    assert (got["content"].values == expected["content"].values).all()

    # a timestamp past the log end streams nothing
    LakeTable.create(str(tmp_path / "t2"), REPO_FIELDS, REPO_KEY, num_buckets=4)
    job2 = CdcIngestJob(spark, str(tmp_path / "t2"), paths["events"],
                        str(tmp_path / "c2"), num_buckets=4)
    assert job2.resolve_timestamp(gen.EPOCH0 + pd.Timedelta(days=30)) is None
    job2.run_incremental(
        available_now=True, timeout_s=300,
        start_ts=gen.EPOCH0 + pd.Timedelta(days=30),
    )
    assert LakeTable.load(str(tmp_path / "t2")).scan(spark).count() == 0

    with pytest.raises(ValueError):
        job2.run_incremental(start_seq=1, start_ts=start_ts)


def test_delay_metrics_recorded(spark, tmp_path):
    """CDCRecordFetchDelay / CDCRecordEmitDelay parity: every incremental
    batch records both, and emit >= fetch (commit happens after fetch)."""
    paths = gen.write_fixture(
        str(tmp_path / "fx"), 50, 200, seed=15, n_event_files=2, with_ddl=False
    )
    LakeTable.create(str(tmp_path / "t"), REPO_FIELDS, REPO_KEY, num_buckets=4)
    job = CdcIngestJob(spark, str(tmp_path / "t"), paths["events"],
                       str(tmp_path / "c"), num_buckets=4)
    job.run_incremental(available_now=True, timeout_s=300)

    m = spark.read.parquet(job.metrics_dir).where(F.col("phase") == "incremental")
    rows = m.collect()
    assert rows, "no incremental metrics recorded"
    for r in rows:
        assert r["fetch_delay_ms"] is not None
        assert r["emit_delay_ms"] is not None
        assert r["emit_delay_ms"] >= r["fetch_delay_ms"]


def test_complex_type_lattice_through_lake(spark, tmp_path):
    """DECIMAL(p,s)/ARRAY/MAP/ROW columns (TypeConverterUtils.java:55-123)
    survive create → merge → scan alignment, and DECIMAL obeys the Iceberg
    widening rule (precision up / scale fixed)."""
    from seatunnel_spark.schema import sqltype_to_spark
    from pyspark.sql import types as T

    # SqlType name → Spark type, parameterized kinds included
    assert sqltype_to_spark("DECIMAL(10,2)") == T.DecimalType(10, 2)
    assert sqltype_to_spark("ARRAY<INT>") == T.ArrayType(T.IntegerType())
    assert sqltype_to_spark("MAP<STRING,BIGINT>") == T.MapType(T.StringType(), T.LongType())
    assert sqltype_to_spark("ROW<a INT, b STRING>") == T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )

    fields = [
        ("repo", "string"), ("path", "string"),
        ("price", "decimal(10,2)"),
        ("tags", "array<string>"),
        ("counts", "map<string,int>"),
        ("meta", "struct<stars:int,lic:string>"),
    ]
    t = LakeTable.create(str(tmp_path / "t"), fields, ["repo", "path"], num_buckets=2)
    from decimal import Decimal

    df = spark.createDataFrame(
        [("o/r", "a.py", Decimal("12.34"), ["x", "y"], {"k": 3}, (5, "mit"), "I", 0),
         ("o/r", "b.py", Decimal("0.05"), [], {}, (1, "apl"), "I", 1)],
        "repo string, path string, price decimal(10,2), tags array<string>, "
        "counts map<string,int>, meta struct<stars:int,lic:string>, op string, seq long",
    )
    merge_into(spark, t, df, "e1")
    got = {r["path"]: r for r in t.scan(spark).collect()}
    assert got["a.py"]["price"] == Decimal("12.34")
    assert got["a.py"]["tags"] == ["x", "y"] and got["a.py"]["counts"] == {"k": 3}
    assert got["a.py"]["meta"]["stars"] == 5

    # decimal widening: precision up at fixed scale is legal...
    assert t.update_schema(SchemaChange(kind="widen_type", name="price",
                                        type="decimal(14,2)"), "d1")
    assert dict(t.scan(spark).dtypes)["price"] == "decimal(14,2)"
    assert {r["path"]: r["price"] for r in t.scan(spark).collect()}["a.py"] == Decimal("12.34")
    # ...scale or precision shrink is not
    with pytest.raises(ValueError):
        t.update_schema(SchemaChange(kind="widen_type", name="price",
                                     type="decimal(14,4)"), "d2")
    with pytest.raises(ValueError):
        t.update_schema(SchemaChange(kind="widen_type", name="price",
                                     type="decimal(10,2)"), "d3")


def test_timestamp_stop_mode(spark, tmp_path):
    """StopMode TIMESTAMP: bounded replay up to an event time equals the
    oracle over the truncated log (the reference's binlog task
    self-terminates past the stop offset)."""
    paths = gen.write_fixture(
        str(tmp_path / "fx"), 80, 300, seed=17, n_event_files=2, with_ddl=False
    )
    events = pd.read_parquet(paths["events"])
    stop_ts = gen.EPOCH0 + pd.Timedelta(seconds=149)

    LakeTable.create(str(tmp_path / "t"), REPO_FIELDS, REPO_KEY, num_buckets=4)
    job = CdcIngestJob(spark, str(tmp_path / "t"), paths["events"],
                       str(tmp_path / "c"), num_buckets=4)
    assert job.resolve_stop_timestamp(stop_ts) == 149

    empty_base = pd.DataFrame(columns=["repo", "path", "commit", "lang", "content"])
    expected, _ = oracle.replay(empty_base, events[events["seq"] <= 149])
    job.run_incremental(available_now=True, timeout_s=300, stop_ts=stop_ts)

    got = LakeTable.load(str(tmp_path / "t")).scan(spark).toPandas()
    got = got.sort_values(["repo", "path"]).reset_index(drop=True)
    assert len(got) == len(expected)
    assert (got["content"].values == expected["content"].values).all()

    with pytest.raises(ValueError):
        job.run_incremental(stop_seq=1, stop_ts=stop_ts)


def test_parse_alter_sql():
    """Raw ALTER TABLE DDL → SchemaChange (the binlog DDL-resolve surface,
    SchemaChangeResolver parity)."""
    from seatunnel_spark.schema import parse_alter_sql

    c = parse_alter_sql("ALTER TABLE repos ADD COLUMN stars INT;")
    assert (c.kind, c.name, c.type) == ("add_column", "stars", "int")
    c = parse_alter_sql("alter table db.repos add forks BIGINT")
    assert (c.kind, c.name, c.type) == ("add_column", "forks", "bigint")
    c = parse_alter_sql("ALTER TABLE t DROP COLUMN lang")
    assert (c.kind, c.name) == ("drop_column", "lang")
    c = parse_alter_sql("ALTER TABLE t RENAME COLUMN `commit` TO commit_sha")
    assert (c.kind, c.old_name, c.name) == ("rename_column", "commit", "commit_sha")
    c = parse_alter_sql("ALTER TABLE t RENAME TO repos_v2")
    assert (c.kind, c.name) == ("rename_table", "repos_v2")
    c = parse_alter_sql("ALTER TABLE t MODIFY COLUMN stars BIGINT")
    assert (c.kind, c.name, c.type) == ("widen_type", "stars", "bigint")
    # MySQL CHANGE = rename + type in one clause -> batch of two events
    c = parse_alter_sql("ALTER TABLE t CHANGE `commit` commit_sha VARCHAR(64)")
    assert c.kind == "batch" and c.changes[0].kind == "rename_column"
    assert c.changes[1].type == "varchar(64)"
    # comma-separated clauses -> one batch; DECIMAL comma survives
    c = parse_alter_sql(
        "ALTER TABLE t ADD price DECIMAL(10,2), ADD COLUMN n INT, DROP old_col"
    )
    assert c.kind == "batch" and len(c.changes) == 3
    assert c.changes[0].type == "decimal(10,2)"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="not an ALTER"):
        parse_alter_sql("CREATE TABLE t (x int)")
    # table-option DDL is a no-op (r3: index/option clauses are ignorable)
    c = parse_alter_sql("ALTER TABLE t ENGINE=InnoDB")
    assert c.kind == "batch" and c.changes == ()


def test_parsed_alter_applies_to_lake(spark, table):
    """The parsed DDL drives the same metadata commit path end-to-end."""
    from seatunnel_spark.schema import parse_alter_sql

    merge_into(spark, table, _batch_df(spark, ROWS1), "e1")
    ch = parse_alter_sql(
        "ALTER TABLE repos ADD stars INT, RENAME COLUMN commit TO commit_sha"
    )
    assert table.update_schema(ch, "d1")
    names = [f["name"] for f in table.schema_fields()]
    assert "stars" in names and "commit_sha" in names and "commit" not in names
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["commit_sha"] == "c1"


def test_dml_at_ddl_seq_is_not_lost(spark, tmp_path):
    """Timestamp-ordered queue sources can put a row and an ALTER on the
    same tick: the row must land (in the pre-DDL segment), never be dropped
    by strict segment bounds."""
    root = str(tmp_path / "t")
    LakeTable.create(root, REPO_FIELDS, REPO_KEY, num_buckets=2)
    ddl = SchemaChange(kind="add_column", name="stars", type="int").to_json()
    rows = [
        (1, 0, "I", "o/r", "a.py", "c0", "py", "v0", None, None),
        (5, 0, "U", "o/r", "a.py", "c1", "py", "v1", None, None),  # seq == DDL seq
        (5, 0, "DDL", None, None, None, None, None, ddl, None),
        (9, 1, "I", "o/r", "b.py", "c2", "py", "v2", None,
         json.dumps({"stars": "3"})),
    ]
    ev = pd.DataFrame(rows, columns=["seq", "txn_id", "op", "repo", "path",
                                     "commit", "lang", "content", "ddl", "extra"])
    ev["ts"] = pd.Timestamp(gen.EPOCH0) + pd.to_timedelta(ev["seq"], unit="s")
    events_dir = str(tmp_path / "ev")
    import os
    os.makedirs(events_dir)
    spark.createDataFrame(ev, event_schema()).coalesce(1).write.parquet(
        events_dir, mode="overwrite")
    job = CdcIngestJob(spark, root, events_dir, str(tmp_path / "c"), num_buckets=2)
    job.run_incremental(available_now=True, timeout_s=300)
    got = {r["path"]: r for r in LakeTable.load(root).scan(spark).collect()}
    assert got["a.py"]["content"] == "v1"  # the equal-seq update applied
    assert got["b.py"]["stars"] == 3       # post-DDL column landed


def test_type_normalization_and_varchar_widening():
    """ADVICE r2: lake schemas store lattice names ('string') while raw
    binlog DDL carries MySQL spellings ('varchar(255)'); the widening check
    must normalize both sides or the common `CHANGE old new VARCHAR(n)`
    rename idiom kills the stream."""
    from seatunnel_spark.schema import is_legal_widening, normalize_sql_type

    assert normalize_sql_type("VARCHAR(255)") == "string"
    assert normalize_sql_type("varchar(255)", keep_length=True) == "varchar(255)"
    assert normalize_sql_type("character varying(40)") == "string"
    assert normalize_sql_type("LONGTEXT") == "string"
    assert normalize_sql_type("INTEGER") == "int"
    assert normalize_sql_type("int(11) unsigned") == "int"
    assert normalize_sql_type("NUMERIC(10, 2)") == "decimal(10,2)"
    assert normalize_sql_type("datetime(3)") == "timestamp"
    assert normalize_sql_type("double precision") == "double"
    assert normalize_sql_type("MEDIUMBLOB") == "bytes"

    # the rename-idiom restatement: stored 'string' vs restated varchar
    assert is_legal_widening("string", "varchar(255)")
    assert is_legal_widening("varchar(255)", "string")
    # varchar length growth is a widening; shrink is not
    assert is_legal_widening("varchar(100)", "varchar(255)")
    assert not is_legal_widening("varchar(255)", "varchar(100)")
    # alias spellings resolve onto the numeric lattice
    assert is_legal_widening("integer", "bigint")
    assert not is_legal_widening("bigint", "integer")
    assert is_legal_widening("numeric(10,2)", "decimal(12,2)")
    assert not is_legal_widening("decimal(10,2)", "decimal(10,3)")


def test_change_varchar_restatement_applies_to_lake(spark, table):
    """`CHANGE old new VARCHAR(n)` over a string column must apply as
    rename + identity widen, not die on varchar-vs-string."""
    from seatunnel_spark.schema import parse_alter_sql

    merge_into(spark, table, _batch_df(spark, ROWS1), "e1")
    ch = parse_alter_sql("ALTER TABLE repos CHANGE `commit` commit_sha VARCHAR(255)")
    assert table.update_schema(ch, "d1")
    fields = {f["name"]: f["type"] for f in table.schema_fields()}
    assert "commit_sha" in fields and "commit" not in fields
    assert fields["commit_sha"] == "string"  # lattice spelling stored, not varchar
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["commit_sha"] == "c1"


def test_index_and_option_ddl_clauses_are_ignored():
    """Binlog DDL is full of non-column clauses (ADD INDEX, DROP KEY,
    ENGINE=...); the reference resolves only column events — such
    statements must parse to no-ops, never kill the stream."""
    from seatunnel_spark.schema import parse_alter_sql

    c = parse_alter_sql("ALTER TABLE t ADD INDEX idx_lang (lang)")
    assert c.kind == "batch" and c.changes == ()
    c = parse_alter_sql("ALTER TABLE t DROP PRIMARY KEY, ENGINE=InnoDB")
    assert c.kind == "batch" and c.changes == ()
    c = parse_alter_sql(
        "ALTER TABLE t ADD COLUMN stars INT, ADD UNIQUE KEY uk (stars), "
        "DEFAULT CHARACTER SET utf8mb4"
    )
    assert (c.kind, c.name, c.type) == ("add_column", "stars", "int")
    c = parse_alter_sql(
        "ALTER TABLE t ADD CONSTRAINT fk FOREIGN KEY (x) REFERENCES o(id), "
        "DROP COLUMN lang"
    )
    assert (c.kind, c.name) == ("drop_column", "lang")
    # truly unknown clauses still fail loudly
    import pytest
    with pytest.raises(ValueError, match="unsupported ALTER clause"):
        parse_alter_sql("ALTER TABLE t PARTITION BY HASH(id)")


def test_index_ddl_through_canal_stream_is_noop(spark, tmp_path):
    """e2e: an isDdl envelope carrying ADD INDEX flows through the stream
    as a no-op — DML before and after still applies."""
    import os

    from seatunnel_spark.schema import repo_schema
    from seatunnel_spark.streaming.job import CdcIngestJob

    lines = [
        json.dumps({"data": [{"repo": "o/r", "path": "a.py", "commit": "c1",
                              "lang": "py", "content": "v1"}],
                    "old": None, "type": "INSERT", "table": "repos", "ts": 1}),
        json.dumps({"data": None, "old": None, "type": "ALTER", "table": "repos",
                    "ts": 2, "isDdl": True,
                    "sql": "ALTER TABLE repos ADD INDEX idx_lang (lang)"}),
        json.dumps({"data": [{"repo": "o/r", "path": "a.py", "commit": "c2",
                              "lang": "py", "content": "v2"}],
                    "old": None, "type": "UPDATE", "table": "repos", "ts": 3}),
    ]
    topic = str(tmp_path / "topic")
    os.makedirs(topic)
    with open(os.path.join(topic, "p0.txt"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    root = str(tmp_path / "t")
    LakeTable.create(root, REPO_FIELDS, REPO_KEY, num_buckets=2)
    job = CdcIngestJob(spark, root, topic, str(tmp_path / "c"), num_buckets=2,
                       wire_format="canal-json", wire_row_schema=repo_schema())
    job.run_incremental(available_now=True, timeout_s=300)
    t = LakeTable.load(root)
    got = {r["path"]: r["content"] for r in t.scan(spark).collect()}
    assert got == {"a.py": "v2"}
    # schema unchanged: no spurious version bump from the no-op DDL
    assert [f["name"] for f in t.schema_fields()] == [n for n, _ in REPO_FIELDS]


DROP_STARS = SchemaChange(kind="drop_column", name="stars")
READD_STARS = SchemaChange(kind="add_column", name="stars", type="bigint")
DROP_READD_ROWS = [
    # a.py's LAST event precedes the drop and carries stars=7
    (1, 0, "I", "o/r", "a.py", "c0", "py", "v0", None, json.dumps({"stars": "7"})),
    (2, 0, "DDL", None, None, None, None, None, DROP_STARS.to_json(), None),
    (3, 1, "DDL", None, None, None, None, None, READD_STARS.to_json(), None),
    (4, 1, "I", "o/r", "b.py", "c1", "py", "v1", None, json.dumps({"stars": "9"})),
]


def test_drop_readd_same_column_takes_fused_path(spark, tmp_path):
    """Drop + re-add of one column name re-binds that wire name to a fresh
    column id within the batch. The batch still commits ONE data epoch: the
    new id reads the wire field only after its add_column seq, so a key
    whose last event precedes the drop shows NULL in the re-added column
    (its old value died with the dropped column id), never a leaked
    resurrection."""
    root = str(tmp_path / "t")
    t = LakeTable.create(root, REPO_FIELDS + [("stars", "int")], REPO_KEY, num_buckets=2)
    assert "stars" in [f["name"] for f in t.schema_fields()]
    _write_events(spark, tmp_path / "ev", DROP_READD_ROWS)
    job = CdcIngestJob(spark, root, str(tmp_path / "ev"), str(tmp_path / "c"),
                       num_buckets=2)
    job.run_incremental(available_now=True, timeout_s=300)

    t = LakeTable.load(root)
    assert _data_epochs(t) == ["b0.s0"]
    got = {r["path"]: r for r in t.scan(spark).collect()}
    # pre-drop value must NOT resurrect into the re-added (new-id) column
    assert got["a.py"]["stars"] is None
    assert got["b.py"]["stars"] == 9


def test_replay_after_ddl_commits_keeps_pre_drop_value_dead(spark, tmp_path):
    """The crash window of "DDLs first, then one merge": a run committed the
    batch's drop and re-add epochs and died before its merge. The replayed
    batch finds both DDLs already applied; the seq bounds they recorded in
    table metadata must still keep a.py's pre-drop stars=7 out of the
    re-added column."""
    root = str(tmp_path / "t")
    t = LakeTable.create(root, REPO_FIELDS + [("stars", "int")], REPO_KEY, num_buckets=2)
    _write_events(spark, tmp_path / "ev", DROP_READD_ROWS)
    # epoch ids as the job derives them: b{batch}.d{seq}.{index}
    assert t.update_schema(DROP_STARS, "b0.d2.0", seq=2)
    assert t.update_schema(READD_STARS, "b0.d3.1", seq=3)
    job = CdcIngestJob(spark, root, str(tmp_path / "ev"), str(tmp_path / "c"),
                       num_buckets=2)
    job.run_incremental(available_now=True, timeout_s=300)

    t = LakeTable.load(root)
    assert _data_epochs(t) == ["b0.s0"]
    assert sorted(e for e in t.meta["epochs"] if ".d" in e) == ["b0.d2.0", "b0.d3.1"]
    got = {r["path"]: r for r in t.scan(spark).collect()}
    assert got["a.py"]["stars"] is None
    assert got["b.py"]["stars"] == 9


def test_field_before_its_add_column_lands_null(spark, tmp_path):
    """An event BEFORE `add_column stars` that already carries `stars` must
    land NULL: the column does not exist at that event's offset (segment
    and oracle semantics). An event after the add keeps its value."""
    root = str(tmp_path / "t")
    LakeTable.create(root, REPO_FIELDS, REPO_KEY, num_buckets=2)
    add = SchemaChange(kind="add_column", name="stars", type="int").to_json()
    ev = _write_events(spark, tmp_path / "ev", [
        (1, 0, "I", "o/r", "a.py", "c0", "py", "v0", None, json.dumps({"stars": "7"})),
        (2, 0, "DDL", None, None, None, None, None, add, None),
        (3, 1, "I", "o/r", "b.py", "c1", "py", "v1", None, json.dumps({"stars": "9"})),
    ])
    job = CdcIngestJob(spark, root, str(tmp_path / "ev"), str(tmp_path / "c"),
                       num_buckets=2)
    job.run_incremental(available_now=True, timeout_s=300)

    t = LakeTable.load(root)
    assert _data_epochs(t) == ["b0.s0"]
    got = {r["path"]: r["stars"] for r in t.scan(spark).collect()}
    assert got == {"a.py": None, "b.py": 9}
    expected, _ = oracle.replay(pd.DataFrame(columns=[n for n, _ in REPO_FIELDS]), ev)
    assert {r.path: (None if pd.isna(r.stars) else r.stars)
            for r in expected.itertuples()} == got


def test_unique_order_only_for_the_native_log(spark, tmp_path):
    """The merge drops its LWW tie-break only where seq is the unique log
    offset (parquet-events); timestamp-ordered queue wires keep it."""
    def job(fmt):
        return CdcIngestJob(spark, str(tmp_path / "t"), str(tmp_path / "ev"),
                            str(tmp_path / "c"), wire_format=fmt)

    assert job("parquet-events")._unique_order is True
    assert job("debezium-json")._unique_order is False
    assert job("canal-json")._unique_order is False


def test_fused_path_one_merge_epoch_per_batch(spark, tmp_path):
    """A DDL-ful batch (no drop+re-add) must take the FUSED path: exactly
    one data epoch (b0.s0) in the ledger — never b0.s1/b0.s2 — plus one
    epoch per DDL. Pins the O(1)-merge-jobs-per-batch contract."""
    import os

    root = str(tmp_path / "t")
    LakeTable.create(root, REPO_FIELDS, REPO_KEY, num_buckets=2)
    add = SchemaChange(kind="add_column", name="stars", type="int").to_json()
    ren = SchemaChange(kind="rename_column", old_name="commit",
                       name="commit_sha").to_json()
    rows = [
        (0, 0, "I", "o/r1", "a.py", "c0", "py", "v0", None, None),
        (1, 0, "DDL", None, None, None, None, None, add, None),
        (2, 1, "U", "o/r1", "a.py", "c1", "py", "v1", None,
         json.dumps({"stars": "5"})),
        (3, 1, "DDL", None, None, None, None, None, ren, None),
        (4, 2, "I", "o/r2", "b.py", "c2", "py", "v2", None,
         json.dumps({"stars": "9"})),
    ]
    ev = pd.DataFrame(rows, columns=["seq", "txn_id", "op", "repo", "path",
                                     "commit", "lang", "content", "ddl", "extra"])
    ev["ts"] = pd.Timestamp(gen.EPOCH0) + pd.to_timedelta(ev["seq"], unit="s")
    events_dir = str(tmp_path / "ev")
    os.makedirs(events_dir)
    spark.createDataFrame(ev, event_schema()).coalesce(1).write.parquet(
        events_dir, mode="overwrite")
    job = CdcIngestJob(spark, root, events_dir, str(tmp_path / "c"), num_buckets=2)
    job.run_incremental(available_now=True, timeout_s=300)

    t = LakeTable.load(root)
    assert _data_epochs(t) == ["b0.s0"]
    ddl_epochs = sorted(e for e in t.meta["epochs"] if ".d" in e)
    assert len(ddl_epochs) == 2, ddl_epochs
    got = {r["path"]: r for r in t.scan(spark).collect()}
    assert got["a.py"]["stars"] == 5 and got["a.py"]["commit_sha"] == "c1"
    assert got["b.py"]["stars"] == 9
