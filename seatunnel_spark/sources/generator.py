"""Deterministic seeded fixture generator (the engine's FakeSource).

Mirrors the reference's test-data strategy — a synthetic source generating
rows from a declared schema (reference: connector-fake FakeDataGenerator.java,
167 LoC) plus the e2e change-stream DDL/DML interleavings of
connector-cdc-mysql-e2e (MysqlCDCIT.java:210-245) — adapted to the BASELINE
input shape: a table of source-code repositories keyed on (repo, path) and a
binlog/WAL-style event log with interleaved DDL.

Everything is a pure function of (seed, index) via md5, so the pandas oracle
(oracle.py) reproduces the exact same bytes with zero shared state. Content
is one md5 per row (cheap at 10^7-event bench scale).

Key-space skew is Zipf-ish (a few hot repos own most events) to exercise the
salting / AQE-skew paths the north rule demands.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from seatunnel_spark.schema import OP_DDL, OP_DELETE, OP_INSERT, OP_UPDATE, SchemaChange

N_REPOS = 40
LANGS = ["py", "java", "go", "rs", "ts", "md"]
EPOCH0 = datetime(2026, 1, 1, tzinfo=timezone.utc)


def _h(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _u(s: str) -> float:
    """Deterministic uniform [0,1) from a string."""
    return int(_h(s)[:12], 16) / float(1 << 48)


def repo_for(rid: int) -> str:
    return f"org{rid % 8}/repo{rid}"


def key_for(i: int, seed: int) -> tuple[str, str, str]:
    """Key i → (repo, path, lang). Repo is Zipf-skewed: low ids are hot."""
    rid = int(N_REPOS * _u(f"{seed}|repo|{i}") ** 2.5)
    lang = LANGS[int(_u(f"{seed}|lang|{i}") * len(LANGS))]
    path = f"src/pkg{i % 97}/mod{i // 97}/file{i}.{lang}"
    return repo_for(rid), path, lang


def commit_for(repo: str, path: str, version: int) -> str:
    d = _h(f"c|{repo}|{path}|{version}")
    return (d + d)[:40]


def content_for(repo: str, path: str, version: int) -> str:
    """Deterministic pseudo-source text, 200–4000 chars, one md5 per call."""
    d = _h(f"b|{repo}|{path}|{version}")
    reps = 6 + int(d[:2], 16) % 115
    return f"// {repo}/{path} v{version}\n" + (d + "\n") * reps


def stars_for(repo: str, path: str, version: int) -> int:
    return int(_h(f"s|{repo}|{path}|{version}")[:4], 16)


def gen_base(n_rows: int, seed: int = 42) -> pd.DataFrame:
    """Initial snapshot state of the repos table (version 0 of keys 0..n)."""
    rows = []
    for i in range(n_rows):
        repo, path, lang = key_for(i, seed)
        rows.append(
            (repo, path, commit_for(repo, path, 0), lang, content_for(repo, path, 0))
        )
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def ddl_schedule(n_events: int) -> dict[int, SchemaChange]:
    """DDL events at fixed offsets: add → rename → widen (FIXTURES.md §2).

    Reference semantics: AlterTableAddColumnEvent / AlterTableChangeColumnEvent
    (rename) / AlterTableModifyColumnEvent (type change), applied at exact
    offsets per IncrementalSourceStreamFetcher.splitSchemaChangeStream:152-236.
    """
    if n_events < 20:
        return {}
    return {
        int(n_events * 0.40): SchemaChange(kind="add_column", name="stars", type="int"),
        int(n_events * 0.55): SchemaChange(
            kind="rename_column", old_name="commit", name="commit_sha"
        ),
        int(n_events * 0.70): SchemaChange(kind="widen_type", name="stars", type="bigint"),
    }


def gen_events(
    n_events: int,
    n_base: int,
    seed: int = 42,
    with_ddl: bool = True,
    txn_size: int = 20,
) -> pd.DataFrame:
    """Sequential change log: ~60% U (hot-key heavy), ~25% I, ~10% D
    (incl. delete-then-reinsert), ~5% same-key churn, + DDL at fixed offsets.

    Deterministic given (n_events, n_base, seed). The live key set evolves
    as we generate, exactly as a real binlog would. Two-phase for speed at
    10^6+ events: a light sequential pass decides (op, key, version) using
    pre-drawn numpy randoms (no hashing in the loop), then the string
    columns (keys, commits, contents) are materialized in bulk.
    """
    rng = np.random.default_rng(seed)
    u_op = rng.random(n_events)
    u_pick = rng.random((n_events, 8))
    u_re = rng.random(n_events)

    ddls = ddl_schedule(n_events) if with_ddl else {}
    versions: dict[int, int] = {}  # key index -> latest version; -1 = dead base key
    deleted: list[int] = []
    next_key = n_base

    ops = np.empty(n_events, dtype="U3")
    keys = np.full(n_events, -1, dtype=np.int64)
    vers = np.full(n_events, -1, dtype=np.int64)

    def alive(k: int) -> bool:
        return versions.get(k, 0 if k < n_base else -1) >= 0

    def pick_live(s: int) -> int:
        hi = n_base + len(versions)
        k = 0
        for a in range(8):
            k = int(hi * u_pick[s, a] ** 2.0)
            if alive(k):
                return k
        for step in range(1, 4096):
            kk = (k + step) % max(hi, 1)
            if alive(kk):
                return kk
        return 0

    for s in range(n_events):
        if s in ddls:
            ops[s] = OP_DDL
            continue
        u = u_op[s]
        if u < 0.60:
            op, k = OP_UPDATE, pick_live(s)
        elif u < 0.85:
            op = OP_INSERT
            if deleted and u_re[s] < 0.08:  # delete-then-reinsert edge case
                k = deleted[int(u_pick[s, 7] * len(deleted))]
            else:
                k, next_key = next_key, next_key + 1
        else:
            op, k = OP_DELETE, pick_live(s)
        ops[s] = op
        keys[s] = k
        if op == OP_DELETE:
            deleted.append(k)
            versions[k] = -1
        else:
            v = versions.get(k)
            v = 1 if v is None or v < 0 else v + 1
            versions[k] = v
            vers[s] = v

    # ---- bulk string materialization -----------------------------------
    uniq = sorted({int(k) for k in keys if k >= 0})
    kmap = {k: key_for(k, seed) for k in uniq}  # key -> (repo, path, lang)

    has_stars_from = min(
        (s for s, ch in ddls.items() if ch.kind == "add_column"), default=n_events + 1
    )
    repo_l, path_l, commit_l, lang_l, content_l, ddl_l, extra_l = (
        [], [], [], [], [], [], []
    )
    for s in range(n_events):
        op = ops[s]
        if op == OP_DDL:
            repo_l.append(None); path_l.append(None); commit_l.append(None)
            lang_l.append(None); content_l.append(None)
            ddl_l.append(ddls[s].to_json()); extra_l.append(None)
            continue
        repo, path, lang = kmap[int(keys[s])]
        repo_l.append(repo); path_l.append(path); ddl_l.append(None)
        if op == OP_DELETE:
            commit_l.append(None); lang_l.append(None)
            content_l.append(None); extra_l.append(None)
        else:
            v = int(vers[s])
            commit_l.append(commit_for(repo, path, v))
            lang_l.append(lang)
            content_l.append(content_for(repo, path, v))
            extra_l.append(
                json.dumps({"stars": str(stars_for(repo, path, v))})
                if s > has_stars_from
                else None
            )

    seq = np.arange(n_events, dtype=np.int64)
    df = pd.DataFrame(
        {
            "seq": seq,
            "txn_id": seq // txn_size,
            "op": ops,
            "repo": repo_l,
            "path": path_l,
            "commit": commit_l,
            "lang": lang_l,
            "content": content_l,
            "ddl": ddl_l,
            "extra": extra_l,
            "ts": pd.Timestamp(EPOCH0) + pd.to_timedelta(seq, unit="s"),
        }
    )
    return df


def write_fixture(
    outdir: str,
    n_base: int,
    n_events: int,
    seed: int = 42,
    n_event_files: int = 8,
    with_ddl: bool = True,
) -> dict[str, str]:
    """Write base.parquet + events/chunk-*.parquet (contiguous seq ranges so a
    file stream delivers them roughly in order). Idempotent per parameter set.
    """
    os.makedirs(outdir, exist_ok=True)
    marker = os.path.join(outdir, "_FIXTURE")
    stamp = f"v3|{n_base}|{n_events}|{seed}|{n_event_files}|{with_ddl}"
    base_path = os.path.join(outdir, "base.parquet")
    events_dir = os.path.join(outdir, "events")
    if os.path.exists(marker) and open(marker).read() == stamp:
        return {"base": base_path, "events": events_dir}
    base = gen_base(n_base, seed)
    # bounded row groups: a single-row-group base file is a degenerate
    # input no real snapshot source presents — one task would have to
    # decode the WHOLE base table (a 1M-row base measured ~12s serial in
    # the snapshot cell at every core count). The reference's snapshot
    # phase chunk-splits the table (SnapshotSplitAssigner); row groups are
    # parquet's chunk boundary, so cap them at 64k rows and let Spark's
    # maxPartitionBytes do the splitting.
    base_tbl = pa.Table.from_pandas(base, preserve_index=False)
    pq.write_table(base_tbl, base_path, row_group_size=65536)
    events = gen_events(n_events, n_base, seed, with_ddl=with_ddl)
    os.makedirs(events_dir, exist_ok=True)
    for old in os.listdir(events_dir):
        os.remove(os.path.join(events_dir, old))
    # explicit arrow schema so all-null chunks keep string typing
    ev_schema = pa.schema(
        [
            ("seq", pa.int64()),
            ("txn_id", pa.int64()),
            ("op", pa.string()),
            ("repo", pa.string()),
            ("path", pa.string()),
            ("commit", pa.string()),
            ("lang", pa.string()),
            ("content", pa.string()),
            ("ddl", pa.string()),
            ("extra", pa.string()),
            ("ts", pa.timestamp("us", tz="UTC")),
        ]
    )
    bounds = np.linspace(0, len(events), n_event_files + 1, dtype=int)
    for f in range(n_event_files):
        chunk = events.iloc[bounds[f] : bounds[f + 1]]
        tbl = pa.Table.from_pandas(chunk, schema=ev_schema, preserve_index=False)
        # same bounded-row-group discipline as the base file: byte-range
        # splits can only parallelize at row-group boundaries, and seq-range
        # predicates (start/stop offsets, the snapshot's seq < max_fence)
        # prune at row-group granularity
        pq.write_table(
            tbl, os.path.join(events_dir, f"chunk-{f:05d}.parquet"),
            row_group_size=65536,
        )
    with open(marker, "w") as fh:
        fh.write(stamp)
    return {"base": base_path, "events": events_dir}
