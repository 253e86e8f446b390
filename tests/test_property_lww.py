"""Property-based invariants (hypothesis): for ANY op sequence and ANY way
of splitting it into ordered batches, the engine's merged state equals the
sequential oracle — the algebraic heart of the exactly-once CDC claim."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from seatunnel_spark import oracle
from seatunnel_spark.lake import LakeTable, merge_into
from seatunnel_spark.operators.dedup import lww_reduce
from seatunnel_spark.schema import REPO_FIELDS, REPO_KEY

KEYS = [("o/r", f"f{i}.py") for i in range(4)]


@st.composite
def op_sequences(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    ops = []
    for seq in range(n):
        repo, path = KEYS[draw(st.integers(0, len(KEYS) - 1))]
        kind = draw(st.sampled_from(["I", "U", "D"]))
        ops.append((seq, kind, repo, path))
    cuts = sorted(draw(st.sets(st.integers(1, max(n - 1, 1)), max_size=3)))
    return ops, cuts


def _expected(ops):
    state = {}
    for seq, kind, repo, path in ops:
        if kind == "D":
            state.pop((repo, path), None)
        else:
            state[(repo, path)] = f"v{seq}"
    return state


@settings(max_examples=12, deadline=None)
@given(op_sequences())
def test_any_batching_matches_sequential_oracle(spark, tmp_path_factory, case):
    ops, cuts = case
    d = tmp_path_factory.mktemp("prop")
    table = LakeTable.create(str(d / "t"), REPO_FIELDS, REPO_KEY, num_buckets=2)

    def rows(chunk):
        return [
            (repo, path, f"c{seq}", "py", f"v{seq}" if kind != "D" else None, kind, seq)
            for seq, kind, repo, path in chunk
        ]

    bounds = [0, *cuts, len(ops)]
    for i in range(len(bounds) - 1):
        chunk = ops[bounds[i] : bounds[i + 1]]
        if not chunk:
            continue
        df = spark.createDataFrame(
            rows(chunk),
            "repo string, path string, commit string, lang string, content string, op string, seq long",
        )
        merge_into(spark, table, df, f"e{i}", compact_threshold=3)

    got = {(r["repo"], r["path"]): r["content"] for r in table.scan(spark).collect()}
    assert got == _expected(ops)


@st.composite
def tied_op_sequences(draw):
    """Op sequences where seq values MAY repeat across and within keys —
    the timestamp-ordered-source shape that exercises the tie-break."""
    n = draw(st.integers(min_value=2, max_value=20))
    ops = []
    for i in range(n):
        repo, path = KEYS[draw(st.integers(0, len(KEYS) - 1))]
        kind = draw(st.sampled_from(["I", "U", "D"]))
        seq = draw(st.integers(0, 4))  # heavy collisions by construction
        ops.append((i, seq, kind, repo, path))
    return ops


@settings(max_examples=10, deadline=None)
@given(tied_op_sequences())
def test_ties_are_deterministic_one_row_per_key(spark, tmp_path_factory, case):
    """Non-unique ordering values: the merged table still holds at most one
    row per key, the survivor carries the key's max seq, and two independent
    replays of the same batch pick the SAME survivor (hash tie-break)."""
    d = tmp_path_factory.mktemp("ties")
    rows = [
        (repo, path, f"c{i}", "py", f"v{i}" if kind != "D" else None, kind, seq)
        for i, seq, kind, repo, path in case
    ]
    batch = spark.createDataFrame(
        rows,
        "repo string, path string, commit string, lang string, content string, op string, seq long",
    )
    states = []
    for run in ("a", "b"):
        t = LakeTable.create(str(d / run), REPO_FIELDS, REPO_KEY, num_buckets=2)
        merge_into(spark, t, batch, "e1")
        got = t.scan(spark, include_meta=True).collect()
        keys = [(r["repo"], r["path"]) for r in got]
        assert len(keys) == len(set(keys)), "duplicate key rows"
        max_seq = {}
        for _i, seq, _k, repo, path in case:
            max_seq[(repo, path)] = max(max_seq.get((repo, path), -1), seq)
        for r in got:
            assert r["_seq"] == max_seq[(r["repo"], r["path"])]
        states.append(sorted((r["repo"], r["path"], r["_op"], r["content"]) for r in got))
    assert states[0] == states[1], "tie-break not deterministic"

    # the same rows over two merges: tied (key, seq) rows now sit in
    # different files of one stack, and the scan must keep the survivor of
    # the tie-broken semi-join reduce over that stack
    t = LakeTable.create(str(d / "split"), REPO_FIELDS, REPO_KEY, num_buckets=2)
    for j in (0, 1):
        merge_into(spark, t, spark.createDataFrame(rows[j::2], batch.schema), f"e{j}")
    files = [f for fs in t.current_snapshot()["bucket_files"].values() for f in fs]
    ref = lww_reduce(t._read_aligned(spark, files, t.schema_fields()), t.key, "_seq")
    got = t.scan(spark, include_meta=True)
    assert sorted(map(tuple, got.collect()), key=repr) == sorted(
        map(tuple, ref.select(*got.columns).collect()), key=repr
    )
