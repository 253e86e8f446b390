"""Unit tests for the lake layer: atomic commits, epoch idempotence,
column-ID schema evolution, bucket-pruned COW merge."""

import pyspark.sql.functions as F
import pytest

from seatunnel_spark.lake import LakeTable, merge_into
from seatunnel_spark.schema import REPO_FIELDS, REPO_KEY, SchemaChange

ROWS1 = [
    ("o/r1", "a.py", "c1", "py", "print(1)", "I", 0),
    ("o/r1", "b.py", "c2", "py", "print(2)", "I", 1),
    ("o/r2", "c.go", "c3", "go", "fmt", "I", 2),
]


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string, op string, seq long"
    )


@pytest.fixture()
def table(tmp_path):
    return LakeTable.create(str(tmp_path / "t"), REPO_FIELDS, REPO_KEY, num_buckets=4)


def test_merge_insert_then_upsert_delete(spark, table):
    merge_into(spark, table, _batch(spark, ROWS1), "e1")
    assert {r["path"] for r in table.scan(spark).collect()} == {"a.py", "b.py", "c.go"}

    rows2 = [
        ("o/r1", "a.py", "c9", "py", "print(9)", "U", 10),
        ("o/r1", "b.py", None, None, None, "D", 11),
        ("o/r3", "d.rs", "c4", "rs", "fn main", "I", 12),
    ]
    merge_into(spark, table, _batch(spark, rows2), "e2")
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert set(got) == {"a.py", "c.go", "d.rs"}
    assert got["a.py"]["content"] == "print(9)"


def test_intra_batch_lww_and_delete_reinsert(spark, table):
    rows = [
        ("o/r1", "a.py", "c1", "py", "v1", "I", 0),
        ("o/r1", "a.py", "c2", "py", "v2", "U", 5),
        ("o/r1", "a.py", None, None, None, "D", 6),
        ("o/r1", "a.py", "c3", "py", "v3", "I", 7),  # delete-then-reinsert
        ("o/r2", "b.py", "c4", "py", "x", "I", 8),
        ("o/r2", "b.py", None, None, None, "D", 9),  # last op wins → gone
    ]
    merge_into(spark, table, _batch(spark, rows), "e1")
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert set(got) == {"a.py"}
    assert got["a.py"]["content"] == "v3"


def test_epoch_idempotence(spark, table):
    merge_into(spark, table, _batch(spark, ROWS1), "e1")
    v1 = table.version
    res = merge_into(spark, table, _batch(spark, ROWS1), "e1")  # replay
    assert res["skipped"] is True
    assert table.version == v1
    assert table.scan(spark).count() == 3


def test_delta_commit_touches_one_bucket(spark, table):
    merge_into(spark, table, _batch(spark, ROWS1), "e1")
    snap1 = table.current_snapshot()
    # touch one key only → exactly one bucket gains a delta file (O(batch),
    # never O(table) — the merge-on-read contract)
    merge_into(
        spark, table, _batch(spark, [("o/r1", "a.py", "cX", "py", "new", "U", 99)]), "e2"
    )
    snap2 = table.current_snapshot()
    changed = [
        b for b in snap2["bucket_files"]
        if snap2["bucket_files"][b] != snap1["bucket_files"].get(b, [])
    ]
    assert len(changed) == 1
    assert snap2["summary"]["buckets_touched"] == 1
    assert len(snap2["bucket_files"][changed[0]]) == len(snap1["bucket_files"][changed[0]]) + 1
    # untouched buckets carried over by reference (no rewrite)
    for b in set(snap1["bucket_files"]) - set(changed):
        assert snap2["bucket_files"][b] == snap1["bucket_files"][b]
    # read-side LWW resolves the stack
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["content"] == "new"


def test_compaction_folds_stack(spark, table):
    merge_into(spark, table, _batch(spark, ROWS1), "e0", compact_threshold=3)
    for i in range(1, 7):
        merge_into(
            spark,
            table,
            _batch(spark, [("o/r1", "a.py", f"c{i}", "py", f"v{i}", "U", 100 + i)]),
            f"e{i}",
            compact_threshold=3,
        )
    counts = table.delta_file_counts()
    assert max(counts.values()) <= 4  # stacks folded by compaction
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["content"] == "v6"  # latest survives compaction
    assert set(got) == {"a.py", "b.py", "c.go"}


def test_schema_evolution_add_rename_widen(spark, table):
    merge_into(spark, table, _batch(spark, ROWS1), "e1")
    table.update_schema(SchemaChange(kind="add_column", name="stars", type="int"), "d1")
    # old files read with null-filled new column
    assert table.scan(spark).where(F.col("stars").isNull()).count() == 3

    # new data written post-DDL includes stars
    b = spark.createDataFrame(
        [("o/r9", "z.py", "c", "py", "zz", 7, "I", 50)],
        "repo string, path string, commit string, lang string, content string, stars int, op string, seq long",
    )
    merge_into(spark, table, b, "e2")
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["z.py"]["stars"] == 7 and got["a.py"]["stars"] is None

    # rename: data files still carry the old name; scan aligns by column id
    table.update_schema(
        SchemaChange(kind="rename_column", old_name="commit", name="commit_sha"), "d2"
    )
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["a.py"]["commit_sha"] == "c1"

    # widen int → bigint: old int files cast at read
    table.update_schema(SchemaChange(kind="widen_type", name="stars", type="bigint"), "d3")
    assert dict(table.scan(spark).dtypes)["stars"] == "bigint"
    got = {r["path"]: r for r in table.scan(spark).collect()}
    assert got["z.py"]["stars"] == 7

    # DDL idempotence
    v = table.version
    assert table.update_schema(SchemaChange(kind="widen_type", name="stars", type="bigint"), "d3") is False
    assert table.version == v


def test_illegal_widening_rejected(spark, table):
    with pytest.raises(ValueError):
        table.update_schema(SchemaChange(kind="widen_type", name="repo", type="int"), "dx")


def test_single_exchange_merge_plan(spark, table, tmp_path):
    """The 100 TB shuffle contract: for murmur3-bucketed tables the LWW
    reduce + bucketed write runs off ONE wide exchange — the probe-side
    repartition by key (partition id == bucket id) is reused by the
    semi-join, the byte-dup distinct, and the partitionBy write; the winners
    branch ships only narrow (key, seq, hash) bytes. A delta commit must
    produce exactly one file per touched bucket (stray exchanges would
    scatter a bucket's rows across partitions → many files)."""
    from seatunnel_spark.operators.dedup import lww_reduce

    # num_buckets == shuffle partitions: the winners' narrow exchange needs
    # no extra re-partition, giving the minimal two-exchange plan
    table = LakeTable.create(str(tmp_path / "t8"), REPO_FIELDS, REPO_KEY, num_buckets=8)
    assert table.meta["bucket_fn"] == "murmur3"
    df = spark.range(5000).selectExpr(
        "concat('o/r', id % 13) AS repo", "concat('p', id) AS path",
        "md5(cast(id as string)) AS commit", "'py' AS lang",
        "repeat(md5(cast(id as string)), 4) AS content", "'I' AS op", "id AS seq",
    )
    batch = df.withColumn("bucket", table.bucket_expr())
    plan = (
        lww_reduce(batch, table.key, bucket_partitions=table.num_buckets)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # exactly two exchanges: the wide probe repartition + the narrow winners
    # (Catalyst may retag the explicit repartition as ENSURE_REQUIREMENTS
    # when it coincides with the join's requirement — the count is what
    # matters: a third exchange means wide bytes crossed twice)
    assert plan.count("Exchange") == 2, plan
    # partition id == bucket id identity (repartition hash == bucket_expr)
    mismatch = (
        batch.repartition(table.num_buckets, *table.key)
        .select((F.col("bucket") != F.expr("spark_partition_id()")).alias("bad"))
        .where("bad").count()
    )
    assert mismatch == 0

    merge_into(spark, table, df, "e1")
    snap = table.refresh().current_snapshot()
    assert all(len(fs) == 1 for fs in snap["bucket_files"].values())


def test_stack_scan_plan_is_one_window_over_one_exchange(spark, table):
    """The merge-on-read read path: buckets holding a 3-file stack under 3
    schema ids are LWW-reduced by one window — exactly one exchange, no
    join, and each schema group's files read by one parquet scan (a reducer
    copied into every branch of the union reads every file again)."""

    def batch(seq0, commit_col="commit", extra=()):
        return spark.range(200).selectExpr(
            "concat('o/r', id % 150 % 7) AS repo", "concat('p', id % 150) AS path",
            f"'c{seq0}' AS {commit_col}", "'py' AS lang",
            f"concat('v', id + {seq0}) AS content", *extra,
            "IF(id % 9 = 0, 'D', 'U') AS op", f"id + {seq0} AS seq",
        )

    merge_into(spark, table, batch(0), "e1")
    table.update_schema(
        SchemaChange(kind="rename_column", old_name="commit", name="commit_sha"), "d1"
    )
    merge_into(spark, table, batch(1000, "commit_sha"), "e2")
    table.update_schema(SchemaChange(kind="add_column", name="stars", type="int"), "d2")
    merge_into(spark, table, batch(2000, "commit_sha", ["7 AS stars"]), "e3")

    snap = table.refresh().current_snapshot()
    stacks = snap["bucket_files"].values()
    assert len(stacks) == table.num_buckets and all(len(fs) >= 3 for fs in stacks)
    schema_groups = {f["schema_id"] for fs in stacks for f in fs}
    assert len(schema_groups) == 3

    scan = table.scan(spark, include_meta=True)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("FileScan parquet") == len(schema_groups), plan
    # the last batch rewrote every key: its LWW winners are the whole state
    want = {}
    for i in range(200):
        want[f"p{i % 150}"] = (2000 + i, "D" if i % 9 == 0 else "U", 7)
    got = {r["path"]: (r["_seq"], r["_op"], r["stars"]) for r in scan.collect()}
    assert got == want


def test_time_travel_scan(spark, table):
    merge_into(spark, table, _batch(spark, ROWS1), "e1")
    v1 = table.refresh().meta["current_snapshot_id"]
    b2 = _batch(spark, [("o/r1", "a.py", "c9", "py", "print(9)", "U", 10),
                        ("o/r2", "c.go", None, None, None, "D", 11)])
    merge_into(spark, table, b2, "e2")
    # current state: a.py updated, c.go deleted
    now = {r["path"]: r["content"] for r in table.scan(spark).collect()}
    assert now == {"a.py": "print(9)", "b.py": "print(2)"}
    # VERSION AS OF v1: pre-update state, c.go alive
    old = {r["path"]: r["content"] for r in table.scan(spark, snapshot_id=v1).collect()}
    assert old == {"a.py": "print(1)", "b.py": "print(2)", "c.go": "fmt"}
    # time travel under the snapshot's OWN schema: rename after v1
    table.update_schema(
        SchemaChange(kind="rename_column", old_name="commit", name="commit_sha"), "d1"
    )
    assert "commit" in table.scan(spark, snapshot_id=v1).columns
    assert "commit_sha" in table.scan(spark).columns
    with pytest.raises(KeyError):
        table.scan(spark, snapshot_id=9999)


def test_changes_between_incremental_read(spark, table):
    """Lake-as-CDC-source: a consumer polling snapshots reads each commit's
    LWW-reduced change set exactly once; compaction rewrites contribute
    nothing (layout-only)."""
    merge_into(spark, table, _batch(spark, ROWS1), "e1")
    v1 = table.refresh().meta["current_snapshot_id"]
    b2 = _batch(spark, [("o/r1", "a.py", "c9", "py", "print(9)", "U", 10),
                        ("o/r2", "c.go", None, None, None, "D", 11)])
    merge_into(spark, table, b2, "e2")
    v2 = table.refresh().meta["current_snapshot_id"]

    ch = table.changes_between(spark, v1, v2).collect()
    got = {(r["path"], r["_op"]) for r in ch}
    assert got == {("a.py", "U"), ("c.go", "D")}
    # from the beginning: initial inserts + the second batch
    all_ch = table.changes_between(spark, None).collect()
    assert len(all_ch) == len(ROWS1) + 2

    # force a compaction-like rewrite; changes after v2 must be empty
    from seatunnel_spark.lake.merge import expire_tombstones
    expire_tombstones(spark, table, before_seq=100, epoch_id="exp1")
    table.refresh()
    assert table.changes_between(spark, v2).count() == 0
    # user view (include_meta=False) hides tombstones
    assert {r["path"] for r in table.changes_between(spark, v1, v2, include_meta=False).collect()} == {"a.py"}


def test_changes_between_rejects_pruned_history(spark, table):
    """Incremental reads must not cross expired snapshots: diffing against a
    pruned parent would re-emit old rows (Iceberg raises here too)."""
    import copy

    merge_into(spark, table, _batch(spark, ROWS1), "e1")
    merge_into(spark, table, _batch(
        spark, [("o/r1", "a.py", "c9", "py", "v9", "U", 10)]), "e2")
    merge_into(spark, table, _batch(
        spark, [("o/r1", "b.py", "cA", "py", "vA", "U", 11)]), "e3")
    # simulate expire_snapshots pruning the first snapshot
    meta = copy.deepcopy(table.meta)
    pruned_id = meta["snapshots"][0]["snapshot_id"]
    meta["snapshots"] = meta["snapshots"][1:]
    table._write_version(meta)

    with pytest.raises(ValueError, match="predates retained history"):
        table.changes_between(spark, pruned_id - 1)
    with pytest.raises(ValueError, match="expired"):
        table.changes_between(spark, None)  # window crosses the pruned parent
    # a window fully inside retained history still works
    ids = [s["snapshot_id"] for s in table.meta["snapshots"]]
    ch = table.changes_between(spark, ids[0], ids[1]).collect()
    assert {(r["path"], r["content"]) for r in ch} == {("b.py", "vA")}
