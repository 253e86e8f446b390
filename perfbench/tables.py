"""Seeded input tables for the curation heads.

The heads (``__spark_entry__.queries()``) read a small star schema, an
``events`` click stream, a text corpus and an embedding table from one
directory of ``<name>.parquet`` files. This writes those tables from a seed,
with the value domains the heads filter and group on (regions, market
segments, order dates, event types, languages). ``sf`` scales the row counts
as in TPC-H: at ``sf=0.01`` there are 15k orders and 60k line items.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DIM = 64


def _write(out: str, name: str, df: pd.DataFrame, schema: pa.Schema | None = None) -> None:
    tbl = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))


def _days(rng, n: int, start: str, span_days: int) -> pd.Series:
    days = pd.to_timedelta(rng.integers(0, span_days, n), unit="D")
    return (pd.Timestamp(start) + days).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _star(rng, out: str, sf: float) -> None:
    n_cust, n_orders = int(150_000 * sf), int(1_500_000 * sf)
    _write(out, "region", pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}))
    _write(out, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}))
    _write(out, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)}))
    order_date = _days(rng, n_orders, "1995-01-01", 2404)
    _write(out, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, n_orders, 1000.0, 500_000.0),
        "o_orderdate": order_date,
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)}))
    # 1..7 lines per order, 4 on average
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    start = np.repeat(np.cumsum(lines) - lines, lines)
    ship = order_date.values.repeat(lines) + pd.to_timedelta(
        rng.integers(1, 122, n), unit="D").values
    _write(out, "lineitem", pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n),
        "l_linenumber": (np.arange(n) - start + 1).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": ship.astype("datetime64[us]")}))


def _events(rng, out: str, sf: float) -> None:
    n, users = int(1_000_000 * sf), max(2, int(15_000 * sf))
    # increasing timestamps over 30 days, so sessions and hours are dense
    ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.sort(rng.uniform(0, 30 * 86400, n)).round(6), unit="s")
    _write(out, "events", pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, users, n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": _money(rng, n, 0.01, 500.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}))


def _documents(rng, out: str, sf: float) -> None:
    n = max(20, int(50_000 * sf))
    lens = rng.integers(10, 101, n)
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lens)]
    # a few exact copies and "dup"-marked near copies for the dedup heads
    for i in rng.choice(np.arange(1, n), n // 50, replace=False):
        j = int(rng.integers(0, i))
        texts[i] = texts[j] if rng.random() < 0.3 else texts[j] + " dup"
    _write(out, "documents", pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}))


def _embeddings(rng, out: str, sf: float) -> None:
    n = max(20, int(50_000 * sf))
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    _write(out, "embeddings", pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, n).astype(np.int32)}), schema)


def write_tables(out: str, sf: float, seed: int) -> str:
    """Write every table the heads read into ``out``; returns ``out``."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    _star(rng, out, sf)
    _events(rng, out, sf)
    _documents(rng, out, sf)
    _embeddings(rng, out, sf)
    return out
