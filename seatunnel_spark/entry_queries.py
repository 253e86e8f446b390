"""Driver-facing query registry: each entry pairs a Spark DataFrame query
with a DuckDB-equivalent ANSI SQL oracle over the same parquet tables.

Naming maps to SURVEY.md §2 operator ids (s2/s4/s6/s8/s11 CDC source ops,
k5/k6 sink ops, t_* transforms, f_* Zeta functions, plus the training-data
operator suite). Every computed column is aliased identically on both sides
(the driver hashes values after sorting columns by name).

Numeric hygiene: double aggregates are rounded (2dp money, 6dp ratios) so
JVM vs DuckDB summation order can't flip the value hash; ranks order by raw
values and only the output is rounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from seatunnel_spark.operators import dedup_docs, text, transforms
from seatunnel_spark.operators.dedup import lww_dedup
from seatunnel_spark.operators.similarity import _dot, brute_force_topk, cosine

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _reg(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _cents(col) -> F.Column:
    """2dp money → exact integer cents (the source data is 2dp, so the
    rounded double is within 1e-9 of an integer on both engines)."""
    return F.round(col * 100, 0).cast("bigint")


def _dsum(col) -> F.Column:
    """Order-independent money sum: exact integer-cent accumulation —
    JVM vs DuckDB summation order can never flip the value hash."""
    return F.sum(_cents(col)) / 100.0


def _osum(expr: str) -> str:
    """DuckDB twin of _dsum."""
    return f"(sum(CAST(round(({expr}) * 100, 0) AS BIGINT)) / 100.0)"


def _idiv(a: F.Column, b) -> F.Column:
    """Exact integer division for non-negative longs (no double rounding):
    (a - a % b) is an exact multiple of b, so the double division is exact."""
    b = b if isinstance(b, F.Column) else F.lit(b)
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def _drev(price_col, disc_col) -> F.Column:
    """Exact revenue sum rounded half-up to cents IN INTEGER SPACE, then one
    deterministic double division — engines can't disagree on the last cent."""
    raw = F.sum(_cents(price_col) * (100 - _cents(disc_col)))  # unit: 1e-4 $
    return _idiv(raw + 50, 100) / 100.0


def _orev(price: str, disc: str) -> str:
    raw = (
        f"sum(CAST(round({price} * 100, 0) AS BIGINT) * "
        f"(100 - CAST(round({disc} * 100, 0) AS BIGINT)))"
    )
    return f"((({raw} + 50) // 100) / 100.0)"


# =====================================================================
# CDC source / sink operator semantics (SURVEY §2.1, §2.2) over `events`
# =====================================================================

@_reg(
    "k5_lww_dedup",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           value AS last_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
          FROM events) WHERE rn = 1
    """,
)
def k5_lww_dedup(spark, sf_dir):
    """Last-writer-wins key dedup (BufferReducedBatchStatementExecutor.java:42-106)."""
    ev = _t(spark, sf_dir, "events")
    return lww_dedup(ev, ["user_id"], "event_id").select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


@_reg(
    "s11_changelog_routing",
    """
    SELECT CASE WHEN event_type = 'signup' THEN 'I'
                WHEN event_type = 'error'  THEN 'D' ELSE 'U' END AS op,
           count(*) AS n_events, round({OSUM_VALUE}, 2) AS total_value
    FROM events GROUP BY 1
    """.replace("{OSUM_VALUE}", _osum("value")),
)
def s11_changelog_routing(spark, sf_dir):
    """Envelope → RowKind routing (SeaTunnelRowDebeziumDeserializeSchema:159-198)."""
    ev = _t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    return (
        ev.withColumn("op", op)
        .groupBy("op")
        .agg(F.count("*").alias("n_events"), F.round(_dsum(F.col("value")), 2).alias("total_value"))
    )


@_reg(
    "s2_chunk_split_even",
    """
    SELECT CAST(floor(event_id / 8096) AS BIGINT) AS chunk_id,
           count(*) AS n_rows, min(event_id) AS lo, max(event_id) AS hi
    FROM events GROUP BY 1
    """,
)
def s2_chunk_split_even(spark, sf_dir):
    """Evenly-sized chunk splitting by key range, default 8096 rows/split
    (AbstractJdbcSourceChunkSplitter.splitEvenlySizedChunks:275-309)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("chunk_id", F.floor(F.col("event_id") / 8096).cast("bigint"))
        .groupBy("chunk_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("event_id").alias("lo"),
            F.max("event_id").alias("hi"),
        )
    )


@_reg(
    "s4_sample_sharding",
    """
    WITH hist AS (SELECT user_id, count(*) AS c FROM events GROUP BY user_id),
    cum AS (SELECT user_id, c,
                   sum(c) OVER (ORDER BY user_id ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(c) OVER () AS n
            FROM hist)
    SELECT CAST(1 + ((cum - 1) * 16) // n AS BIGINT) AS shard,
           CAST(sum(c) AS BIGINT) AS n_rows,
           min(user_id) AS key_lo, max(user_id) AS key_hi
    FROM cum GROUP BY 1
    """,
)
def s4_sample_sharding(spark, sf_dir):
    """Equi-depth shard boundaries from the KEY HISTOGRAM
    (efficientShardingThroughSampling, AbstractJdbcSourceChunkSplitter.java:233-269).

    Scale design: the raw table is never globally sorted. A keyed aggregate
    (parallel, map-side combinable) reduces the table to one row per distinct
    key; only that histogram passes through the single-partition cumulative
    window — the same shape as the reference, whose sampling-based splitter
    likewise collects sampled keys into one enumerator to derive boundaries.
    At 10^10 events with ~10^7 keys the window input is ~0.1% of the table;
    above ``sample_threshold`` distinct keys the operator hash-mod samples
    the histogram FIRST and derives boundaries from the sample (the
    reference's 1/1000 sampling, JdbcSourceOptions.java:127-138) —
    operators/sharding.py, pytest-covered. shard(u) = 1 + floor((cum(u)-1)
    * S / N): every event of a key lands in one shard, shards are
    depth-balanced up to the heaviest key."""
    from seatunnel_spark.operators.sharding import sample_sharding

    ev = _t(spark, sf_dir, "events")
    out, _sampled = sample_sharding(ev, "user_id", shards=16)
    return out


@_reg(
    "s6_snapshot_normalization",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
          FROM events WHERE event_id < 800) WHERE rn = 1
    """,
)
def s6_snapshot_normalization(spark, sf_dir):
    """Snapshot chunk normalization: fold in-window changes into the chunk
    buffer (rewriteOutputBuffer:80-117). Built compositionally — snapshot at
    LOW=600 then merge window [600,800) — and must equal the oracle's direct
    LWW at 800, proving the low/high fold is associative."""
    ev = _t(spark, sf_dir, "events")
    snap = lww_dedup(ev.where(F.col("event_id") < 600), ["user_id"], "event_id")
    window = ev.where((F.col("event_id") >= 600) & (F.col("event_id") < 800))
    merged = lww_dedup(snap.unionByName(window), ["user_id"], "event_id")
    return merged.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
    )


@_reg(
    "s8_should_emit_fence",
    """
    SELECT user_id % 8 AS chunk, count(*) AS n_emitted, min(event_id) AS first_emitted
    FROM events WHERE event_id >= 200 + 50 * (user_id % 8)
    GROUP BY 1
    """,
)
def s8_should_emit_fence(spark, sf_dir):
    """Stream-read reconciliation fence: emit only events past the chunk's
    high watermark (IncrementalSourceStreamFetcher.shouldEmit:273-303)."""
    ev = _t(spark, sf_dir, "events")
    chunk = F.col("user_id") % 8
    fence = F.lit(200) + F.lit(50) * chunk
    return (
        ev.where(F.col("event_id") >= fence)
        .groupBy(chunk.alias("chunk"))
        .agg(F.count("*").alias("n_emitted"), F.min("event_id").alias("first_emitted"))
    )


@_reg(
    "c6_salted_two_stage_agg",
    f"""
    SELECT user_id, count(*) AS n_events, round({_osum('value')}, 2) AS total_value
    FROM events GROUP BY user_id
    """,
)
def c6_salted_two_stage_agg(spark, sf_dir):
    """Hot-key salting: partial agg on (key, salt) then re-agg on key — the
    skew-breaking shuffle shape (reference ShuffleMultipleRowStrategy:46-99 +
    SURVEY §4 salting requirement). Result must equal the direct group-by."""
    ev = _t(spark, sf_dir, "events")
    partial = ev.withColumn("_salt", F.pmod(F.col("event_id"), F.lit(8))).groupBy(
        "user_id", "_salt"
    ).agg(
        F.count("*").alias("pn"),
        F.sum(_cents(F.col("value"))).alias("pv"),
    )
    return partial.groupBy("user_id").agg(
        F.sum("pn").cast("bigint").alias("n_events"),
        F.round(F.sum("pv") / 100.0, 2).alias("total_value"),
    )


@_reg(
    "k6_upsert_final_state",
    """
    SELECT user_id, last_type, last_value
    FROM (SELECT user_id, event_type AS last_type, value AS last_value,
                 row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) rn
          FROM events) WHERE rn = 1 AND last_type <> 'error'
    """,
)
def k6_upsert_final_state(spark, sf_dir):
    """MERGE routing: I/U upsert, D delete (MysqlDialect.java:55-71) —
    final state after replay treating 'error' as the delete op."""
    ev = _t(spark, sf_dir, "events")
    last = lww_dedup(ev, ["user_id"], "event_id")
    return last.where(F.col("event_type") != "error").select(
        "user_id",
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


@_reg(
    "s1_table_discovery",
    """
    SELECT 'customer' AS tbl, count(*) AS n FROM customer
    UNION ALL SELECT 'orders', count(*) FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'events', count(*) FROM events
    """,
)
def s1_table_discovery(spark, sf_dir):
    """Captured-table discovery (DataSourceDialect.discoverDataCollections,
    IncrementalSource.java:199-200): enumerate sources + row counts."""
    parts = []
    for tbl in ["customer", "orders", "lineitem", "events"]:
        parts.append(
            _t(spark, sf_dir, tbl).agg(F.count("*").alias("n")).select(
                F.lit(tbl).alias("tbl"), "n"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_reg(
    "s7_incremental_start_offset",
    """
    SELECT min(high) AS start_offset, max(high) AS max_high, count(*) AS n_chunks
    FROM (SELECT user_id % 8 AS chunk, max(event_id) AS high
          FROM events GROUP BY 1)
    """,
)
def s7_incremental_start_offset(spark, sf_dir):
    """Incremental split construction: stream start = min of completed
    chunks' HIGH watermarks under exactly-once
    (IncrementalSplitAssigner.createIncrementalSplit:198-257, :213-218)."""
    ev = _t(spark, sf_dir, "events")
    highs = ev.groupBy((F.col("user_id") % 8).alias("chunk")).agg(
        F.max("event_id").alias("high")
    )
    return highs.agg(
        F.min("high").alias("start_offset"),
        F.max("high").alias("max_high"),
        F.count("*").alias("n_chunks"),
    )


# =====================================================================
# Transforms (SURVEY §2.4) over `documents` / `events`
# =====================================================================

@_reg(
    "t_sql_transform",
    """
    SELECT doc_id, upper(lang) AS lang_u, n_chars * 2 AS n2
    FROM documents WHERE n_chars > 400
    """,
)
def t_sql_transform(spark, sf_dir):
    """Zeta SQL transform subset (ZetaSQLEngine.validateSQL:99-157)."""
    docs = _t(spark, sf_dir, "documents")
    return transforms.sql_transform(
        docs, ["doc_id", "upper(lang) AS lang_u", "n_chars * 2 AS n2"], "n_chars > 400"
    )


@_reg(
    "t_zeta_sql_string",
    """
    SELECT doc_id, upper(lang) AS lang_uc, source || ':' || lang AS tag,
           substring(text, 1, 8) AS head, CAST(length(text) AS BIGINT) AS len
    FROM documents WHERE length(text) > 50 AND lang <> 'zh'
    """,
)
def t_zeta_sql_string(spark, sf_dir):
    """The full Zeta SQL STRING engine: a SeaTunnel `sql` transform config
    string is parsed, validated (single-table SELECT/WHERE only,
    ZetaSQLEngine.java:99-157) and rewritten into one Catalyst projection."""
    from seatunnel_spark.functions.sql_engine import zeta_sql_transform

    docs = _t(spark, sf_dir, "documents")
    return zeta_sql_transform(
        docs,
        """
        SELECT doc_id, UCASE(lang) AS lang_uc, CONCAT(source, ':', lang) AS tag,
               LEFT(text, 8) AS head, CAST(LENGTH(text) AS BIGINT) AS len
        FROM documents WHERE LENGTH(text) > 50 AND lang <> 'zh'
        """,
        table_name="documents",
    )


@_reg(
    "t_split",
    """
    SELECT doc_id, string_split(text, ' ')[1] AS w0, string_split(text, ' ')[2] AS w1,
           string_split(text, ' ')[3] AS w2
    FROM documents
    """,
)
def t_split(spark, sf_dir):
    """SplitTransform: split a field into N output fields."""
    docs = _t(spark, sf_dir, "documents")
    return transforms.split_field(docs, "text", " ", ["w0", "w1", "w2"]).select(
        "doc_id", "w0", "w1", "w2"
    )


@_reg(
    "t_replace",
    """
    SELECT doc_id, regexp_replace(text, '[aeiou]', '*', 'g') AS text_replaced
    FROM documents
    """,
)
def t_replace(spark, sf_dir):
    """ReplaceTransform (regex mode)."""
    docs = _t(spark, sf_dir, "documents")
    out = transforms.replace_field(docs, "text", "[aeiou]", "*", is_regex=True)
    return out.select("doc_id", F.col("text").alias("text_replaced"))


@_reg(
    "t_fieldmapper",
    "SELECT doc_id AS id, lang AS language, n_chars AS size FROM documents",
)
def t_fieldmapper(spark, sf_dir):
    """FieldMapperTransform: rename/reorder."""
    docs = _t(spark, sf_dir, "documents")
    return transforms.field_mapper(
        docs, {"doc_id": "id", "lang": "language", "n_chars": "size"}
    )


@_reg(
    "t_copy",
    "SELECT doc_id, n_chars, n_chars AS n_chars_copy FROM documents",
)
def t_copy(spark, sf_dir):
    """CopyFieldTransform."""
    docs = _t(spark, sf_dir, "documents")
    return transforms.copy_fields(docs, {"n_chars": "n_chars_copy"}).select(
        "doc_id", "n_chars", "n_chars_copy"
    )


@_reg(
    "t_filterrowkind",
    """
    SELECT event_id, event_type FROM events WHERE event_type NOT IN ('error', 'view')
    """,
)
def t_filterrowkind(spark, sf_dir):
    """FilterRowKindTransform: exclude rows by kind (e.g. drop deletes)."""
    ev = _t(spark, sf_dir, "events")
    return transforms.filter_row_kind(ev, exclude=["error", "view"], op_col="event_type").select(
        "event_id", "event_type"
    )


# =====================================================================
# Zeta scalar function library (SURVEY §2.4 function lib)
# =====================================================================

@_reg(
    "f_string_funcs",
    """
    SELECT doc_id,
           concat_ws('-', lang, source) AS tag,
           upper(substring(text, 1, 10)) AS head,
           lpad(lang, 5, '_') AS padded,
           length(text) AS len,
           translate(lang, 'en', 'EN') AS tr,
           reverse(lang) AS rev,
           ascii(substring(lang, 1, 1)) AS a0
    FROM documents
    """,
)
def f_string_funcs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws("-", "lang", "source").alias("tag"),
        F.upper(F.substring("text", 1, 10)).alias("head"),
        F.lpad("lang", 5, "_").alias("padded"),
        F.length("text").cast("bigint").alias("len"),
        F.translate("lang", "en", "EN").alias("tr"),
        F.reverse("lang").alias("rev"),
        F.ascii(F.substring("lang", 1, 1)).cast("int").alias("a0"),
    )


@_reg(
    "f_datetime_funcs",
    """
    SELECT event_id,
           year(ts) AS y, month(ts) AS m, day(ts) AS d, hour(ts) AS h,
           date_trunc('day', ts) AS day_ts,
           CAST(floor(epoch(ts)) AS BIGINT) AS unix_s
    FROM events
    """,
)
def f_datetime_funcs(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("bigint").alias("y"),
        F.month("ts").cast("bigint").alias("m"),
        F.dayofmonth("ts").cast("bigint").alias("d"),
        F.hour("ts").cast("bigint").alias("h"),
        F.date_trunc("day", "ts").alias("day_ts"),
        F.unix_timestamp("ts").cast("bigint").alias("unix_s"),
    )


@_reg(
    "f_math_funcs",
    """
    SELECT event_id,
           abs(value - 100) AS av,
           round(sqrt(value), 6) AS sq,
           ceil(value)::BIGINT AS cl,
           floor(value)::BIGINT AS fl,
           CAST(round(value * 100, 0) AS BIGINT) % 7 AS md,
           round(ln(value + 1), 6) AS lg,
           sign(value - 100)::DOUBLE AS sg
    FROM events
    """,
)
def f_math_funcs(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.abs(F.col("value") - 100).alias("av"),
        F.round(F.sqrt("value"), 6).alias("sq"),
        F.ceil("value").cast("bigint").alias("cl"),
        F.floor("value").cast("bigint").alias("fl"),
        (F.round(F.col("value") * 100, 0).cast("bigint") % 7).alias("md"),
        F.round(F.log(F.col("value") + 1), 6).alias("lg"),
        F.signum(F.col("value") - 100).cast("double").alias("sg"),
    )


@_reg(
    "f_string_funcs2",
    """
    SELECT doc_id,
           repeat(lang, 3) AS rep3,
           replace(source, 'src', 'origin_') AS srcr,
           strpos(text, 'the') AS pos_the,
           left(text, 5) AS l5,
           right(source, 2) AS r2,
           contains(text, 'spark') AS has_spark,
           rtrim(ltrim('  ' || lang || '  ')) AS trimmed
    FROM documents
    """,
)
def f_string_funcs2(spark, sf_dir):
    """Second string-function batch: REPEAT/REPLACE/POSITION/LEFT/RIGHT/
    CONTAINS/TRIM family (reference StringFunction.java)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.repeat("lang", 3).alias("rep3"),
        F.replace(F.col("source"), F.lit("src"), F.lit("origin_")).alias("srcr"),
        F.instr(F.col("text"), "the").cast("bigint").alias("pos_the"),
        F.substring("text", 1, 5).alias("l5"),
        F.substring(F.col("source"), -2, 2).alias("r2"),
        F.contains(F.col("text"), F.lit("spark")).alias("has_spark"),
        F.rtrim(F.ltrim(F.concat(F.lit("  "), F.col("lang"), F.lit("  ")))).alias("trimmed"),
    )


@_reg(
    "f_system_funcs",
    """
    SELECT event_id,
           coalesce(nullif(event_type, 'error'), 'deleted') AS et,
           CASE WHEN value >= 100 THEN 'hi' WHEN value >= 10 THEN 'mid' ELSE 'lo' END AS bucket3,
           CAST(round(value, 0) AS BIGINT) AS value_int,
           CAST(user_id AS VARCHAR) AS uid_str
    FROM events
    """,
)
def f_system_funcs(spark, sf_dir):
    """System functions: COALESCE / NULLIF / CASE / CAST
    (reference SystemFunction.java)."""
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("deleted")).alias("et"),
        F.when(F.col("value") >= 100, "hi")
        .when(F.col("value") >= 10, "mid")
        .otherwise("lo")
        .alias("bucket3"),
        F.round(F.col("value"), 0).cast("bigint").alias("value_int"),
        F.col("user_id").cast("string").alias("uid_str"),
    )


def _zeta(spark, sf_dir, table, sql):
    """Run a Zeta SQL config string through the real string engine."""
    from seatunnel_spark.functions.sql_engine import zeta_sql_transform

    return zeta_sql_transform(_t(spark, sf_dir, table), sql, table_name=table)


# DuckDB soundex (missing builtin): generic for the 2-letter lang codes —
# first letter + consonant digit of the 2nd letter unless vowel/H/W or same
# code as the 1st, padded to 4 (the classic rules reduce to this at len 2)
_DSDX = (
    "upper(substr(lang, 1, 1)) || rpad(CASE WHEN "
    "replace(translate(upper(substr(lang, 2, 1)), 'BFPVCGJKQSXZDTLMNRAEIOUYHW',"
    " '11112222222233455600000000'), '0', '') <> '' AND "
    "replace(translate(upper(substr(lang, 2, 1)), 'BFPVCGJKQSXZDTLMNRAEIOUYHW',"
    " '11112222222233455600000000'), '0', '') <> "
    "replace(translate(upper(substr(lang, 1, 1)), 'BFPVCGJKQSXZDTLMNRAEIOUYHW',"
    " '11112222222233455600000000'), '0', '') THEN "
    "replace(translate(upper(substr(lang, 2, 1)), 'BFPVCGJKQSXZDTLMNRAEIOUYHW',"
    " '11112222222233455600000000'), '0', '') ELSE '' END, 3, '0')"
)


@_reg(
    "f_string_funcs3",
    f"""
    SELECT doc_id,
           {_DSDX} AS sdx,
           regexp_extract(text, '[a-z]+', 0) AS w0,
           lower(array_to_string(
               ['00' || lpad(lower(hex(ascii(x))), 2, '0') FOR x IN string_split(lang, '')],
               '')) AS lang_hex,
           source AS src_rt,
           substr(source, 1, 1) || 'XX' || substr(source, 3) AS ins,
           CAST(CASE WHEN strpos(substr(text, 3), 'e') = 0 THEN 0
                     ELSE strpos(substr(text, 3), 'e') + 2 END AS BIGINT) AS loc_e,
           lang || '  ' || chr(35) AS spaced,
           translate(source, 'src', 'SRC') AS tr
    FROM documents
    """,
)
def f_string_funcs3(spark, sf_dir):
    """Third string batch — the previously-untested tail, executed through
    the Zeta string engine: SOUNDEX, REGEXP_SUBSTR, RAWTOHEX/HEXTORAW
    (UTF-16 round trip), INSERT splice, 3-arg LOCATE, SPACE, CHR, TRANSLATE
    (reference StringFunction.java)."""
    return _zeta(
        spark, sf_dir, "documents",
        """
        SELECT doc_id,
               SOUNDEX(lang) AS sdx,
               REGEXP_SUBSTR(text, '[a-z]+') AS w0,
               RAWTOHEX(lang) AS lang_hex,
               HEXTORAW(RAWTOHEX(source)) AS src_rt,
               INSERT(source, 2, 1, 'XX') AS ins,
               CAST(LOCATE('e', text, 3) AS BIGINT) AS loc_e,
               CONCAT(lang, SPACE(2), CHR(35)) AS spaced,
               TRANSLATE(source, 'src', 'SRC') AS tr
        FROM documents
        """,
    )


@_reg(
    "f_datetime_funcs2",
    """
    SELECT event_id,
           ts + INTERVAL 7 DAY AS d7,
           ts + INTERVAL 90 MINUTE AS m90,
           CAST(floor(epoch(ts) - epoch(TIMESTAMP '2024-01-01 00:00:00')) AS BIGINT)
               // 3600 AS h_since,
           CAST(floor(epoch(ts) - epoch(TIMESTAMP '2024-01-01 00:00:00')) AS BIGINT)
               AS s_since,
           strftime(ts, '%Y-%m-%d %H:%M') AS fmt,
           date_trunc('second', ts) AS ts_sec,
           dayname(ts) AS dname,
           monthname(ts) AS mname,
           CAST(quarter(ts) AS BIGINT) AS q,
           CAST(weekofyear(ts) AS BIGINT) AS wk,
           CAST(dayofyear(ts) AS BIGINT) AS doy
    FROM events
    """,
)
def f_datetime_funcs2(spark, sf_dir):
    """Second datetime batch through the Zeta engine: DATEADD/TIMESTAMPADD
    (arg reorder), DATEDIFF in two units, FORMATDATETIME/PARSEDATETIME
    round trip, DAYNAME/MONTHNAME, QUARTER/WEEK/DAY_OF_YEAR
    (reference DateTimeFunction.java; WEEK maps to ISO weekofyear — the
    reference's +1 (DateTimeFunction.java:526-534) is a documented deviation)."""
    return _zeta(
        spark, sf_dir, "events",
        """
        SELECT event_id,
               DATEADD(ts, 7) AS d7,
               TIMESTAMPADD(ts, 90, 'MINUTE') AS m90,
               CAST(DATEDIFF(TIMESTAMP '2024-01-01 00:00:00', ts, 'HOUR') AS BIGINT) AS h_since,
               CAST(DATEDIFF(TIMESTAMP '2024-01-01 00:00:00', ts, 'SECOND') AS BIGINT) AS s_since,
               FORMATDATETIME(ts, 'yyyy-MM-dd HH:mm') AS fmt,
               PARSEDATETIME(FORMATDATETIME(ts, 'yyyy-MM-dd HH:mm:ss'), 'yyyy-MM-dd HH:mm:ss') AS ts_sec,
               DAYNAME(ts) AS dname,
               MONTHNAME(ts) AS mname,
               CAST(QUARTER(ts) AS BIGINT) AS q,
               CAST(WEEK(ts) AS BIGINT) AS wk,
               CAST(DAY_OF_YEAR(ts) AS BIGINT) AS doy
        FROM events
        """,
    )


@_reg(
    "f_math_funcs2",
    """
    SELECT event_id,
           (CASE WHEN value >= 0 THEN floor(value * pow(10, 1))
                 ELSE ceil(value * pow(10, 1)) END / pow(10, 1)) AS t1,
           (CASE WHEN (value * -1) >= 0 THEN floor((value * -1) * pow(10, 2))
                 ELSE ceil((value * -1) * pow(10, 2)) END / pow(10, 2)) AS t2,
           round(1 / tan(1 + value / 1000), 6) AS cot6,
           round((exp(value / 1000) - exp(-(value / 1000)))
                 / (exp(value / 1000) + exp(-(value / 1000))), 6) AS th,
           round(radians(value), 6) AS rad,
           round(atan2(value, 10), 6) AS at2,
           round(power(value + 1, 0.5), 6) AS pw,
           round(log(2, value + 1), 6) AS lg2,
           CAST(sign(value - 50) AS DOUBLE) AS sg
    FROM events
    """,
)
def f_math_funcs2(spark, sf_dir):
    """Second math batch through the Zeta engine: TRUNC/TRUNCATE (numeric,
    RoundingMode.DOWN — NumericFunction.java:433-443), COT/TANH on
    well-conditioned arguments, RADIANS, ATAN2, POWER, 2-arg LOG, SIGN."""
    return _zeta(
        spark, sf_dir, "events",
        """
        SELECT event_id,
               TRUNC(value, 1) AS t1,
               TRUNCATE(value * -1, 2) AS t2,
               ROUND(COT(1 + value / 1000), 6) AS cot6,
               ROUND(TANH(value / 1000), 6) AS th,
               ROUND(RADIANS(value), 6) AS rad,
               ROUND(ATAN2(value, 10), 6) AS at2,
               ROUND(POWER(value + 1, 0.5), 6) AS pw,
               ROUND(LOG(2, value + 1), 6) AS lg2,
               CAST(SIGN(value - 50) AS DOUBLE) AS sg
        FROM events
        """,
    )


@_reg(
    "jdbc_split_ranges",
    """
    WITH b AS (
        SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi,
               greatest((max(o_orderkey) - min(o_orderkey) + 1 + 7) // 8, 1) AS step
        FROM orders
    )
    SELECT i AS chunk_id,
           lo + i * step AS lo_key,
           least(lo + i * step + step - 1, hi) AS hi_key
    FROM b, (SELECT unnest(generate_series(0, 7)) AS i)
    WHERE lo + i * step <= hi
    """,
)
def jdbc_split_ranges(spark, sf_dir):
    """JDBC chunk-splitter semantics (sources/jdbc.compute_numeric_splits;
    reference AbstractJdbcSourceChunkSplitter.splitEvenlySizedChunks): one
    MIN/MAX discovery pass, then evenly-sized inclusive ranges covering
    [lo, hi] with the tail absorbing the remainder — the ranges Spark's JDBC
    partitioned read turns into per-executor WHERE-bounded queries."""
    o = _t(spark, sf_dir, "orders")
    b = o.agg(
        F.min("o_orderkey").alias("lo"),
        F.max("o_orderkey").alias("hi"),
    ).withColumn("step", F.greatest(F.expr("(hi - lo + 1 + 7) div 8"), F.lit(1)))
    return (
        b.select("lo", "hi", "step", F.explode(F.sequence(F.lit(0), F.lit(7))).alias("i"))
        .where(F.col("lo") + F.col("i") * F.col("step") <= F.col("hi"))
        .select(
            F.col("i").cast("bigint").alias("chunk_id"),
            (F.col("lo") + F.col("i") * F.col("step")).alias("lo_key"),
            F.least(
                F.col("lo") + F.col("i") * F.col("step") + F.col("step") - 1, F.col("hi")
            ).alias("hi_key"),
        )
    )


@_reg(
    "f_decimal_funcs",
    """
    SELECT l_returnflag,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS VARCHAR) AS sum_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,4))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_disc_price,
           CAST(max(CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS max_qty,
           CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS min_price,
           count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def f_decimal_funcs(spark, sf_dir):
    """DECIMAL(p,s) lattice parity (reference TypeConverterUtils.java:55-123
    DECIMAL branch): exact decimal casts, scale-propagating multiply
    ((12,2)×(12,4) → scale 6), exact decimal SUM/MIN/MAX. Aggregates are
    emitted as strings because decimal-to-string is scale-exact on both
    engines, while DuckDB's pandas bridge degrades decimals to float64 —
    the string keeps the comparison bit-exact where a double would round."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = (F.lit(1) - F.col("l_discount")).cast("decimal(12,4)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    return li.groupBy("l_returnflag").agg(
        F.sum(price).cast("decimal(38,2)").cast("string").alias("sum_price"),
        F.sum(price * disc1).cast("decimal(38,6)").cast("string").alias("sum_disc_price"),
        F.max(qty).cast("string").alias("max_qty"),
        F.min(price).cast("string").alias("min_price"),
        F.count("*").alias("n"),
    )


@_reg(
    "udf_sha256",
    "SELECT doc_id, sha256(text) AS text_sha FROM documents",
)
def udf_sha256(spark, sf_dir):
    """The ZetaUDF surface as a vectorized pandas_udf (Arrow batches) —
    the BASELINE per-row invariant function itself."""
    from seatunnel_spark.functions.udfs import sha256_udf

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", sha256_udf(F.col("text")).alias("text_sha"))


# =====================================================================
# Analytics / windowed aggregation (engine generality + bench heads)
# =====================================================================

@_reg(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round({SQ}, 2) AS sum_qty,
           round({SBP}, 2) AS sum_base_price,
           round({SDP}, 2) AS sum_disc_price,
           ((({CQ} * 10000 + count(*) // 2) // count(*)) / 1000000.0) AS avg_qty,
           ((({CD} * 10000 + count(*) // 2) // count(*)) / 1000000.0) AS avg_disc,
           count(*) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """.replace("{SQ}", _osum("l_quantity"))
    .replace("{SBP}", _osum("l_extendedprice"))
    .replace("{SDP}", _orev("l_extendedprice", "l_discount"))
    .replace("{CQ}", "sum(CAST(round(l_quantity * 100, 0) AS BIGINT))")
    .replace("{CD}", "sum(CAST(round(l_discount * 100, 0) AS BIGINT))"),
)
def q1_pricing_summary(spark, sf_dir):
    """One scan + one keyed aggregate; the decimal partial agg runs map-side
    in the scan, so no repartition helps (A/B'd in round 7: spreading the
    single-file local scan shuffles 600k rows for less than it saves)."""
    li = _t(spark, sf_dir, "lineitem")
    cnt = F.count("*")

    def avg6(cents_sum):  # half-up 6dp average in integer space
        return _idiv(cents_sum * 10000 + _idiv(cnt, 2), cnt) / 1e6

    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum(F.col("l_quantity")), 2).alias("sum_qty"),
            F.round(_dsum(F.col("l_extendedprice")), 2).alias("sum_base_price"),
            F.round(_drev(F.col("l_extendedprice"), F.col("l_discount")), 2).alias(
                "sum_disc_price"
            ),
            avg6(F.sum(_cents(F.col("l_quantity")))).alias("avg_qty"),
            avg6(F.sum(_cents(F.col("l_discount")))).alias("avg_disc"),
            cnt.alias("count_order"),
        )
    )


@_reg(
    "q3_order_revenue",
    """
    SELECT l_orderkey, o_orderdate, round({REV}, 2) AS revenue
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
    GROUP BY l_orderkey, o_orderdate
    """.replace("{REV}", _orev("l_extendedprice", "l_discount")),
)
def q3_order_revenue(spark, sf_dir):
    """Broadcast-friendly star join: customer (small, filtered) is broadcast
    into orders×lineitem — the plan Catalyst should pick; verified in bench."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                _drev(F.col("l_extendedprice"), F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


@_reg(
    "q5_revenue_by_nation",
    """
    SELECT n_name, round({REV}, 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """.replace("{REV}", _orev("l_extendedprice", "l_discount")),
)
def q5_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.round(
                _drev(F.col("l_extendedprice"), F.col("l_discount")), 2
            ).alias("revenue")
        )
    )


@_reg(
    "w_events_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           count(*) AS n, round({TV}, 2) AS total_value
    FROM events GROUP BY 1, 2
    """.replace("{TV}", _osum("value")),
)
def w_events_hourly(spark, sf_dir):
    """Tumbling-window aggregation (batch form of the streaming hourly agg)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour_ts"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(_dsum(F.col("value")), 2).alias("total_value"))


@_reg(
    "w_events_sessions",
    """
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w > INTERVAL 2 HOUR
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT user_id, min(ts) AS session_start,
           max(ts) + INTERVAL 2 HOUR AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def w_events_sessions(spark, sf_dir):
    """Gap-based sessionization: Spark's native session_window (dynamic
    event-time window, identical on batch and watermarked streams) vs the
    classic lag/cumulative-sum island oracle. One keyed shuffle; session
    end = last event + gap in both engines."""
    from seatunnel_spark.streaming.windows import sessionize

    return sessionize(_t(spark, sf_dir, "events"), gap="2 hours")


# =====================================================================
# Training-data pipeline operators over `documents` / `embeddings`
# =====================================================================

# DuckDB fragment: normalized word list of `text`
_DW = "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"
# DuckDB fragment: 3-word shingles of `text` (matches dedup_docs._shingles)
_DSH = (
    f"[array_to_string(list_slice({_DW}, i, i + 2), ' ') "
    f"FOR i IN range(1, greatest(len({_DW}) - 2, 1) + 1)]"
)


def _dh48(expr: str, salt) -> str:
    """DuckDB twin of dedup_docs._h48: 48-bit md5-prefix hash."""
    return f"('0x' || substr(md5('{salt}|' || {expr}), 1, 12))::BIGINT"


@_reg(
    "dedup_exact",
    """
    WITH fp AS (
      SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents)
    SELECT f.doc_id, g.canonical_id, g.group_size
    FROM fp f JOIN (SELECT fp, min(doc_id) AS canonical_id, count(*) AS group_size
                    FROM fp GROUP BY fp) g USING (fp)
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: fingerprint → hash groupBy; shuffle carries only the
    32-char digest, never the document body."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_docs.exact_dedup(docs)


@_reg(
    "dedup_minhash_signatures",
    f"""
    SELECT doc_id,
           list_min([{_dh48('s', 0)} FOR s IN {_DSH}]) AS mh0,
           list_min([{_dh48('s', 1)} FOR s IN {_DSH}]) AS mh1,
           list_min([{_dh48('s', 2)} FOR s IN {_DSH}]) AS mh2,
           list_min([{_dh48('s', 3)} FOR s IN {_DSH}]) AS mh3
    FROM documents
    """,
)
def dedup_minhash_signatures(spark, sf_dir):
    """MinHash signatures (k=4 shown; the LSH pipeline uses k=16, b=4).
    Deterministic md5-derived hash family → bit-exact DuckDB twin."""
    docs = _t(spark, sf_dir, "documents")
    sigs = dedup_docs.minhash_signatures(docs, k=4)
    return sigs.select(
        "doc_id",
        *[F.col("minhash")[i].alias(f"mh{i}") for i in range(4)],
    )


@_reg(
    "dedup_simhash",
    f"""
    WITH h AS (SELECT doc_id, [{_dh48('w', 'simhash')} FOR w IN {_DW}] AS hs
               FROM documents)
    SELECT doc_id,
           (SELECT sum(CASE WHEN 2 * len(list_filter(hs, x -> (x & (1::BIGINT << b)) != 0))
                                 > len(hs)
                            THEN (1::BIGINT << b) ELSE 0 END)
            FROM range(0, 16) t(b))::BIGINT AS simhash
    FROM h
    """,
)
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprint (16-bit here for the oracle; 32/64 at scale)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_docs.simhash(docs, bits=16)


@_reg(
    "dedup_ngram_jaccard",
    f"""
    WITH sh AS (SELECT doc_id, list_distinct({_DSH}) AS s FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard on candidate pairs (here: consecutive doc ids —
    the LSH candidate generator is dedup_minhash_lsh_pairs, tested in pytest)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docs.select(F.col("doc_id").alias("doc_a")).withColumn(
        "doc_b", F.col("doc_a") + 1
    )
    out = dedup_docs.ngram_jaccard(docs, pairs)
    return out.select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))


@_reg(
    "ann_cosine_topk",
    """
    SELECT query_id, vec_id, round(cos_raw, 5) AS cos_sim, rank
    FROM (SELECT q.vec_id AS query_id, c.vec_id,
                 round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 8) AS cos_raw,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 8) DESC,
                                             c.vec_id ASC) AS rank
          FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
          WHERE q.vec_id < 3)
    WHERE rank <= 5
    """,
)
def ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact baseline; LSH-bucketed variant is the
    scale path, tested in pytest). Embeddings cast to double on both sides so
    the rank-deciding cosine is bit-comparable after 8dp rounding."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries = emb.where(F.col("vec_id") < 3)
    out = brute_force_topk(emb, queries, k=5)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 5).alias("cos_sim"), "rank"
    )


@_reg(
    "ann_ivf_topk",
    """
    WITH cent AS (
      SELECT vec_id AS cid, embedding FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ),
    assign AS (
      SELECT vec_id, cid, cv FROM (
        SELECT e.vec_id, ct.cid, e.embedding AS cv,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], ct.embedding::DOUBLE[]), 8) DESC,
                          ct.cid ASC) AS rn
        FROM embeddings e, cent ct) WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.vec_id AS query_id, q.embedding AS qv, ct.cid,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], ct.embedding::DOUBLE[]), 8) DESC,
                          ct.cid ASC) AS rn
        FROM embeddings q, cent ct WHERE q.vec_id < 3) WHERE rn <= 2
    )
    SELECT query_id, vec_id, round(cos_raw, 5) AS cos_sim, rank
    FROM (
      SELECT p.query_id, a.vec_id,
             round(list_cosine_similarity(p.qv::DOUBLE[], a.cv::DOUBLE[]), 8) AS cos_raw,
             row_number() OVER (PARTITION BY p.query_id
               ORDER BY round(list_cosine_similarity(p.qv::DOUBLE[], a.cv::DOUBLE[]), 8) DESC,
                        a.vec_id ASC) AS rank
      FROM probes p JOIN assign a ON a.cid = p.cid
      WHERE a.vec_id != p.query_id)
    WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark, sf_dir):
    """IVF-Flat ANN (the scale path past brute force): deterministic
    md5-sampled coarse quantizer, map-only cell assignment with centroid
    literals in-plan (zero corpus shuffle), top-nprobe probe join, exact
    cosine only within probed cells. The oracle replays the identical
    algorithm in SQL — same centroids, same 8dp rank keys, same ties."""
    from seatunnel_spark.operators.similarity import ivf_fit, ivf_topk

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    centroids = ivf_fit(emb, 8)
    queries = emb.where(F.col("vec_id") < 3)
    out = ivf_topk(emb, queries, centroids, k=5, nprobe=2)
    return out.select(
        "query_id", "vec_id", F.round("cos_sim", 5).alias("cos_sim"), "rank"
    )


def _make_ann_lsh_query():
    """ann_lsh_buckets: random-hyperplane signatures, bucket histogram.
    The hyperplanes are deterministic md5-seeded literals EMBEDDED in both
    the Spark plan and the oracle SQL, so the two engines compute identical
    signs (dot products rounded to 6dp before the sign test to keep borderline
    values bit-stable)."""
    from seatunnel_spark.operators.similarity import _hyperplane

    dim, planes = 64, 6
    hps = [_hyperplane(dim, p) for p in range(planes)]

    sign_terms_sql = " + ".join(
        f"(CASE WHEN round(list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in hp)}]::DOUBLE[]), 6) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, hp in enumerate(hps)
    )
    sql = f"""
    SELECT lsh_sig, count(*) AS n_vecs
    FROM (SELECT ({sign_terms_sql}) AS lsh_sig FROM embeddings)
    GROUP BY lsh_sig
    """

    def q(spark, sf_dir):
        from seatunnel_spark.operators.similarity import _dot

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        sig = F.lit(0)
        for p, hp in enumerate(hps):
            h = F.lit(hp)  # one Literal node per hyperplane
            sig = sig + F.when(
                F.round(_dot(F.col("embedding"), h), 6) >= 0, F.lit(1 << p)
            ).otherwise(F.lit(0))
        return (
            emb.select(sig.cast("int").alias("lsh_sig"))
            .groupBy("lsh_sig")
            .agg(F.count("*").alias("n_vecs"))
        )

    return q, sql


_ann_lsh_q, _ann_lsh_sql = _make_ann_lsh_query()
QUERIES["ann_lsh_buckets"] = _ann_lsh_q
ORACLES["ann_lsh_buckets"] = _ann_lsh_sql


def _make_ann_lsh_pairs_query():
    """ann_lsh_pairs: embedding near-dup candidate pairs via full-signature
    LSH buckets, with the max_bucket cap that bounds the self-join at
    O(buckets × cap²) — the oracle replays the identical algorithm
    (same md5-seeded hyperplane literals, same 6dp sign rounding, same cap,
    same 8dp threshold compare) so the cap itself is correctness-checked."""
    from seatunnel_spark.operators.similarity import _hyperplane

    dim, planes, threshold, cap = 64, 4, 0.3, 64
    hps = [_hyperplane(dim, p) for p in range(planes)]

    sign_terms_sql = " + ".join(
        f"(CASE WHEN round(list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in hp)}]::DOUBLE[]), 6) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, hp in enumerate(hps)
    )
    sql = f"""
    WITH sigs AS (
      SELECT vec_id, embedding, ({sign_terms_sql}) AS lsh_sig FROM embeddings
    ),
    small AS (
      SELECT lsh_sig FROM sigs GROUP BY lsh_sig HAVING count(*) <= {cap}
    ),
    capped AS (SELECT s.* FROM sigs s JOIN small USING (lsh_sig)),
    scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 8) AS c
      FROM capped a JOIN capped b
        ON a.lsh_sig = b.lsh_sig AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(c, 5) AS cos_sim FROM scored WHERE c >= {threshold}
    """

    def q(spark, sf_dir):
        from seatunnel_spark.operators.similarity import lsh_near_dup_pairs

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        out = lsh_near_dup_pairs(
            emb, dim, planes=planes, threshold=threshold,
            max_bucket=cap, round_dp=6,
        )
        return out.select("vec_a", "vec_b", F.round("cos_sim", 5).alias("cos_sim"))

    return q, sql


_ann_lsh_pairs_q, _ann_lsh_pairs_sql = _make_ann_lsh_pairs_query()
QUERIES["ann_lsh_pairs"] = _ann_lsh_pairs_q
ORACLES["ann_lsh_pairs"] = _ann_lsh_pairs_sql


@_reg(
    "text_token_count",
    f"""
    SELECT doc_id,
           len({_DW}) AS n_tokens_ws,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est
    FROM documents
    """,
)
def text_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    out = text.token_count(docs)
    return out.select(
        "doc_id",
        F.col("n_tokens_ws").cast("bigint").alias("n_tokens_ws"),
        "n_tokens_bpe_est",
    )


@_reg(
    "text_quality_score",
    f"""
    SELECT doc_id,
           len({_DW}) AS n_words,
           round(len(list_filter({_DW},
                 w -> list_contains(['the','and','of','to','in'], w)))::DOUBLE
                 / len({_DW}), 6) AS stopword_ratio,
           (length(text) >= 50 AND len({_DW}) >= 10) AS quality_ok
    FROM documents
    """,
)
def text_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    n_words = F.size(words)
    n_stop = F.size(F.filter(words, lambda w: w.isin("the", "and", "of", "to", "in")))
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(n_stop / n_words, 6).alias("stopword_ratio"),
        ((F.length("text") >= 50) & (n_words >= 10)).alias("quality_ok"),
    )


@_reg(
    "text_lang_id",
    f"""
    WITH sc AS (
      SELECT doc_id,
             len(list_filter({_DW}, w -> list_contains(['the','and','of','to','in'], w))) AS h_en,
             len(list_filter({_DW}, w -> list_contains(['der','die','und','das','ist'], w))) AS h_de,
             len(list_filter({_DW}, w -> list_contains(['le','la','et','les','des'], w))) AS h_fr,
             len(list_filter({_DW}, w -> list_contains(['el','la','que','los','de'], w))) AS h_es
      FROM documents)
    SELECT doc_id,
           CASE WHEN greatest(h_en, h_de, h_fr, h_es) = 0 THEN 'unknown'
                WHEN h_fr = greatest(h_en, h_de, h_fr, h_es) THEN 'fr'
                WHEN h_es = greatest(h_en, h_de, h_fr, h_es) THEN 'es'
                WHEN h_en = greatest(h_en, h_de, h_fr, h_es) THEN 'en'
                ELSE 'de' END AS lang_pred
    FROM sc
    """,
)
def text_lang_id(spark, sf_dir):
    """Marker-word language ID; tie-break order fr > es > en > de (fixed)."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    markers = {
        "en": ["the", "and", "of", "to", "in"],
        "de": ["der", "die", "und", "das", "ist"],
        "fr": ["le", "la", "et", "les", "des"],
        "es": ["el", "la", "que", "los", "de"],
    }
    def marker_test(m):
        return lambda w: w.isin(*m)

    hits = {lang: F.size(F.filter(words, marker_test(m))) for lang, m in markers.items()}
    best = F.greatest(*hits.values())
    pred = (
        F.when(best == 0, "unknown")
        .when(hits["fr"] == best, "fr")
        .when(hits["es"] == best, "es")
        .when(hits["en"] == best, "en")
        .otherwise("de")
    )
    return docs.select("doc_id", pred.alias("lang_pred"))


@_reg(
    "text_fingerprint",
    """
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return text.fingerprint(docs).select("doc_id", "fp")


@_reg(
    "text_pii_redact",
    r"""
    WITH d AS (
      SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1 555 123 4567 at 10.0.0.'
                  || CAST(doc_id % 256 AS VARCHAR) AS t
      FROM documents
    )
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+[0-9]{1,3}[ -]?[0-9]{3}[ -]?[0-9]{3,4}[ -]?[0-9]{3,4}', '<PHONE>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')) AS redacted_md5,
           (length(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'))
            - length(regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '', 'g')))::BIGINT AS n_email,
           (length(regexp_replace(t, '\+[0-9]{1,3}[ -]?[0-9]{3}[ -]?[0-9]{3,4}[ -]?[0-9]{3,4}', ' ', 'g'))
            - length(regexp_replace(t, '\+[0-9]{1,3}[ -]?[0-9]{3}[ -]?[0-9]{3,4}[ -]?[0-9]{3,4}', '', 'g')))::BIGINT AS n_phone,
           (length(regexp_replace(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', ' ', 'g'))
            - length(regexp_replace(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '', 'g')))::BIGINT AS n_ipv4
    FROM d
    """,
)
def text_pii_redact(spark, sf_dir):
    """PII scrub (operators/text.pii_redact): typed placeholder redaction of
    emails / phones / IPv4 with per-class hit counts. PII is synthesized
    deterministically in-query (the corpus has none), so every row exercises
    every pattern; the redacted text is compared by md5."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 555 123 4567 at 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ).alias("text"),
    )
    out = text.pii_redact(docs)
    return out.select(
        "doc_id",
        F.md5("text_redacted").alias("redacted_md5"),
        "n_email",
        "n_phone",
        "n_ipv4",
    )


@_reg(
    "pk_salted_apply_digest",
    """
    SELECT source,
           count(*) AS n_docs,
           sum(('0x' || substr(md5(text), 1, 10))::BIGINT)::BIGINT AS digest,
           sum(length(text))::BIGINT AS total_chars
    FROM documents GROUP BY source
    """,
)
def pk_salted_apply_digest(spark, sf_dir):
    """Per-key apply via salted two-phase applyInPandas (the BASELINE-mandated
    vectorized per-key path with hot-key salting): per-source doc digest."""
    import hashlib

    import pandas as pd

    from seatunnel_spark.operators.grouped import salted_apply_per_key

    docs = _t(spark, sf_dir, "documents")

    def partial(pdf: pd.DataFrame) -> pd.DataFrame:
        h = pdf["text"].map(
            lambda t: int(hashlib.md5(t.encode()).hexdigest()[:10], 16)
        )
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "digest": [int(h.sum())],
                "total_chars": [int(pdf["text"].str.len().sum())],
            }
        )

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [int(pdf["n_docs"].sum())],
                "digest": [int(pdf["digest"].sum())],
                "total_chars": [int(pdf["total_chars"].sum())],
            }
        )

    return salted_apply_per_key(
        docs.select("source", "text"),
        ["source"],
        partial,
        merge,
        "source string, n_docs long, digest long, total_chars long",
        "source string, n_docs long, digest long, total_chars long",
        n_salt=8,
        salt_on="text",
    )


@_reg(
    "media_feature_extract",
    """
    WITH m AS (
      SELECT i,
             CASE i % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video'
             END AS kind,
             repeat(md5('media|' || i), 4 + i % 7) AS payload_hex
      FROM range(0, 96) t(i)
    ),
    f AS (
      SELECT kind,
             CAST(length(payload_hex) / 2 AS BIGINT) AS n_bytes,
             (('0x' || substr(md5(payload_hex || '|0'), 1, 8))::BIGINT
              / 4294967296.0)::REAL AS f0
      FROM m
    )
    SELECT kind, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           round(avg(f0), 6) AS avg_f0
    FROM f GROUP BY kind
    """,
)
def media_feature_extract(spark, sf_dir):
    """Multimodal plumbing: opaque binary column → Arrow-batched featurizer
    (deterministic fake decode; real codecs stubbed per container limits).
    The fake featurizer md5-folds the payload's hex form, so the oracle
    replays the identical chain in SQL — hex(md5-chain payload) == repeated
    md5 hex string, and float32 quantization is mirrored with ::REAL."""
    from seatunnel_spark.operators.multimodal import extract_features, synthesize_media

    media = synthesize_media(spark, n=96)
    feats = extract_features(media, fake=True)
    return feats.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg(F.element_at("features", 1)), 6).alias("avg_f0"),
    )


_MINHASH_PAIRS_CTES = f"""
    sig AS (
      SELECT doc_id,
             [list_min([('0x' || substr(md5(i::VARCHAR || '|' || s), 1, 12))::BIGINT
                        FOR s IN {_DSH}])
              FOR i IN range(0, 16)] AS mh
      FROM documents),
    bands AS (
      SELECT doc_id, b AS band,
             md5(array_to_string([mh[b * 4 + j + 1]::VARCHAR FOR j IN range(0, 4)], ',')) AS bh
      FROM sig, range(0, 4) t(b)),
    ok AS (SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) <= 10),
    capped AS (SELECT bands.* FROM bands JOIN ok USING (band, bh)),
    cand AS (
      -- star policy: each bucket contributes (bucket-min doc, member)
      -- edges only; >= 2 shared-band collisions per edge (the pregate)
      SELECT _hub AS doc_a, doc_id AS doc_b FROM (
        SELECT band, bh, doc_id,
               min(doc_id) OVER (PARTITION BY band, bh) AS _hub
        FROM capped)
      WHERE doc_id <> _hub
      GROUP BY 1, 2 HAVING count(*) >= 2),
    sh AS (SELECT doc_id, list_distinct({_DSH}) AS s FROM documents),
    verified AS (
      SELECT doc_a, doc_b,
             len(list_intersect(a.s, b.s))::DOUBLE /
             (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j
      FROM cand JOIN sh a ON a.doc_id = cand.doc_a
                JOIN sh b ON b.doc_id = cand.doc_b
      WHERE len(list_intersect(a.s, b.s))::DOUBLE /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2)
"""


@_reg(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH sig AS (
      SELECT doc_id,
             [list_min([('0x' || substr(md5(i::VARCHAR || '|' || s), 1, 12))::BIGINT
                        FOR s IN {_DSH}])
              FOR i IN range(0, 16)] AS mh
      FROM documents),
    bands AS (
      SELECT doc_id, b AS band,
             md5(array_to_string([mh[b * 4 + j + 1]::VARCHAR FOR j IN range(0, 4)], ',')) AS bh
      FROM sig, range(0, 4) t(b)),
    ok AS (SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) <= 10),
    capped AS (SELECT bands.* FROM bands JOIN ok USING (band, bh)),
    cand AS (
      SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
      FROM capped l JOIN capped r ON l.band = r.band AND l.bh = r.bh
                                 AND l.doc_id < r.doc_id),
    sh AS (SELECT doc_id, list_distinct({_DSH}) AS s FROM documents)
    SELECT doc_a, doc_b,
           round(len(list_intersect(a.s, b.s))::DOUBLE /
                 (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))), 6) AS jaccard
    FROM cand JOIN sh a ON a.doc_id = cand.doc_a
              JOIN sh b ON b.doc_id = cand.doc_b
    WHERE len(list_intersect(a.s, b.s))::DOUBLE /
          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.2
    """,
)
def dedup_minhash_lsh_pairs_q(spark, sf_dir):
    """Banded-LSH candidate pairs (k=16, b=4, bucket cap 10) + exact Jaccard
    verify — the full near-dedup pipeline, bit-exact against DuckDB."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_docs.minhash_lsh_pairs(docs, k=16, bands=4, max_bucket=10)
    verified = dedup_docs.ngram_jaccard(docs, pairs)
    return verified.where(F.col("jaccard") >= 0.2).select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


@_reg(
    "dedup_lsh_band_pregate",
    f"""
    WITH sig AS (
      SELECT doc_id,
             [list_min([('0x' || substr(md5(i::VARCHAR || '|' || s), 1, 12))::BIGINT
                        FOR s IN {_DSH}])
              FOR i IN range(0, 16)] AS mh
      FROM documents),
    bands AS (
      SELECT doc_id, b AS band,
             md5(array_to_string([mh[b * 4 + j + 1]::VARCHAR FOR j IN range(0, 4)], ',')) AS bh
      FROM sig, range(0, 4) t(b)),
    ok AS (SELECT band, bh FROM bands GROUP BY band, bh HAVING count(*) <= 10),
    capped AS (SELECT bands.* FROM bands JOIN ok USING (band, bh))
    SELECT l.doc_id AS doc_a, r.doc_id AS doc_b
    FROM capped l JOIN capped r ON l.band = r.band AND l.bh = r.bh
                               AND l.doc_id < r.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def dedup_lsh_band_pregate(spark, sf_dir):
    """The ≥2-shared-bands candidate pregate on its own: LSH pairs that
    collide in at least 2 of the 4 bands (k=16, bucket cap 10). This is the
    pair list the composed cleaning recipes feed to the exact-Jaccard
    verify — the pregate's aggregate rides the shuffle the distinct needed
    anyway, so shrinking the verify set is free."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_docs.minhash_lsh_pairs(
        docs, k=16, bands=4, max_bucket=10, min_band_matches=2
    )


@_reg(
    "text_repetition_stats",
    r"""
    WITH w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    wc AS (SELECT doc_id, t, count(*) AS c
           FROM (SELECT doc_id, unnest(ws) AS t FROM w) GROUP BY 1, 2),
    wstats AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct,
                      max(c) AS top_c
               FROM wc GROUP BY 1),
    gc AS (SELECT doc_id, t, count(*) AS c
           FROM (SELECT doc_id,
                        unnest(list_transform(range(1, len(ws)),
                                              i -> ws[i] || ' ' || ws[i + 1])) AS t
                 FROM w) GROUP BY 1, 2),
    gstats AS (SELECT doc_id, sum(c) AS n_g, count(*) AS n_g_distinct
               FROM gc GROUP BY 1)
    SELECT w.doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(1 - n_distinct / n_words::DOUBLE, 6) AS dup_word_frac,
           round(coalesce(1 - n_g_distinct / n_g::DOUBLE, 0.0), 6) AS dup_2gram_frac,
           round(top_c / n_words::DOUBLE, 6) AS top_word_frac
    FROM w JOIN wstats USING (doc_id) LEFT JOIN gstats ON gstats.doc_id = w.doc_id
    """,
)
def text_repetition_stats(spark, sf_dir):
    """Gopher/RefinedWeb repetition quality filters: duplicate-word,
    duplicate-bigram, and top-word fractions per document — the standard
    signals for degenerate/looping text. Two keyed aggregations, both
    map-side combinable; document text never re-shuffles."""
    from seatunnel_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


@_reg(
    "corpus_clean",
    f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    ),
    non_canon AS (
      SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(lbl)
    ),
    w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    wc AS (SELECT doc_id, t, count(*) AS c
           FROM (SELECT doc_id, unnest(ws) AS t FROM w) GROUP BY 1, 2),
    wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                      round(1 - count(*) / sum(c)::DOUBLE, 6) AS dup_word_frac,
                      round(max(c) / sum(c)::DOUBLE, 6) AS top_word_frac
               FROM wc GROUP BY 1)
    SELECT d.doc_id, d.lang, d.source, s.n_words, s.dup_word_frac
    FROM documents d JOIN wstats s USING (doc_id)
    WHERE d.n_chars >= 150 AND s.n_words >= 30
      AND s.dup_word_frac <= 0.6 AND s.top_word_frac <= 0.12
      AND d.doc_id NOT IN (SELECT doc_id FROM non_canon)
    """,
)
def corpus_clean(spark, sf_dir):
    """The full training-data cleaning pipeline as ONE composed plan:
    quality gate (length + word count) ∧ repetition gate (Gopher dup-word /
    top-word fractions) ∧ near-dup canonicalization (only each LSH cluster's
    min-id member survives). Everything is the already-tested operators
    composed — filters are codegen'd, the dedup anti-join is against the
    tiny non-canonical id set, and the only wide work is the keyed
    aggregations and the capped LSH candidate join. The ≥2-shared-bands
    pregate (min_band_matches) cuts the pair list before the exact-Jaccard
    verify, the heaviest per-pair cost at scale."""
    from seatunnel_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    rep = repetition_stats(docs)
    pairs = dedup_docs.minhash_lsh_pairs(
        docs, k=16, bands=4, max_bucket=10, min_band_matches=2,
        pair_policy="star",
    )
    verified = dedup_docs.ngram_jaccard(docs, pairs).where(F.col("jaccard") >= 0.2)
    non_canon = (
        dedup_docs.dup_clusters(verified)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    return (
        docs.join(rep, "doc_id")
        .where(
            (F.col("n_chars") >= 150)
            & (F.col("n_words") >= 30)
            & (F.col("dup_word_frac") <= 0.6)
            & (F.col("top_word_frac") <= 0.12)
        )
        .join(non_canon, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_words", "dup_word_frac")
    )


@_reg(
    "dedup_clusters",
    f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           (node = min(lbl)) AS is_canonical
    FROM reach GROUP BY node
    """,
)
def dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution: the verified LSH pair list → connected
    components via iterative min-label propagation (O(E) joins per round,
    rounds = component diameter, lineage truncated per round) → one
    canonical doc per cluster. The oracle replays it as a recursive
    reachability CTE — same pairs (incl. the ≥2-band pregate), same min-id
    labeling."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_docs.minhash_lsh_pairs(
        docs, k=16, bands=4, max_bucket=10, min_band_matches=2,
        pair_policy="star",
    )
    verified = dedup_docs.ngram_jaccard(docs, pairs).where(F.col("jaccard") >= 0.2)
    return dedup_docs.dup_clusters(verified)


# DuckDB fragment: 5-word grams of `text` (decontamination grams;
# matches operators/curation._ngrams(col, 5))
_DG5 = (
    f"[array_to_string(list_slice({_DW}, i, i + 4), ' ') "
    f"FOR i IN range(1, greatest(len({_DW}) - 4, 1) + 1)]"
)


@_reg(
    "corpus_decontaminate",
    f"""
    WITH bg AS (
      SELECT DISTINCT {_dh48('g', 'contam')} AS gh
      FROM (SELECT unnest(list_distinct({_DG5})) AS g
            FROM documents WHERE doc_id % 97 = 0)),
    dg AS (
      SELECT doc_id, {_dh48('g', 'contam')} AS gh
      FROM (SELECT doc_id, unnest(list_distinct({_DG5})) AS g FROM documents)),
    hits AS (SELECT doc_id, count(*) AS n_overlap
             FROM dg JOIN bg USING (gh) GROUP BY doc_id)
    SELECT d.doc_id, CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           coalesce(h.n_overlap, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    """,
)
def corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C / Llama eval-overlap
    rule): flag training docs sharing any 5-gram with the eval set (here a
    deterministic held-out slice, doc_id % 97 == 0 — in production the
    benchmark suites). Broadcast bench grams; the corpus side partial-aggs
    per doc before its only shuffle."""
    from seatunnel_spark.operators.curation import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, bench, n=5)


@_reg(
    "corpus_pack_bins",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source, CAST(len({_DW}) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    p(doc_id, source, n_tokens, rn, acc, bin_id) AS (
      SELECT doc_id, source, n_tokens, rn, n_tokens, CAST(0 AS BIGINT)
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.n_tokens, t.rn,
             CASE WHEN p.acc + t.n_tokens > 256 THEN t.n_tokens
                  ELSE p.acc + t.n_tokens END,
             CASE WHEN p.acc + t.n_tokens > 256 THEN p.bin_id + 1
                  ELSE p.bin_id END
      FROM p JOIN t ON t.source = p.source AND t.rn = p.rn + 1)
    SELECT doc_id, source, n_tokens, bin_id FROM p
    """,
)
def corpus_pack_bins(spark, sf_dir):
    """Greedy sequence packing into 256-token bins per source (training
    batch construction). Sequential fold per group → applyInPandas (only
    id + token count cross into Python); the oracle replays the identical
    greedy rule as a recursive CTE."""
    from seatunnel_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, budget=256)


@_reg(
    "corpus_pack_stats",
    f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, source, CAST(len({_DW}) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
    p(doc_id, source, n_tokens, rn, acc, bin_id) AS (
      SELECT doc_id, source, n_tokens, rn, n_tokens, CAST(0 AS BIGINT)
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.doc_id, t.source, t.n_tokens, t.rn,
             CASE WHEN p.acc + t.n_tokens > 256 THEN t.n_tokens
                  ELSE p.acc + t.n_tokens END,
             CASE WHEN p.acc + t.n_tokens > 256 THEN p.bin_id + 1
                  ELSE p.bin_id END
      FROM p JOIN t ON t.source = p.source AND t.rn = p.rn + 1),
    a AS (
      SELECT source, CAST(max(bin_id) + 1 AS BIGINT) AS n_bins,
             count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(max(n_tokens) AS BIGINT) AS max_doc_tokens
      FROM p GROUP BY source)
    SELECT source, n_bins, n_docs, total_tokens, max_doc_tokens,
           CAST(CAST(total_tokens AS HUGEINT) * 1000000
                // (CAST(n_bins AS HUGEINT) * 256) AS BIGINT) AS fill_ppm
    FROM a
    """,
)
def corpus_pack_stats(spark, sf_dir):
    """Packing-efficiency report per source over the 256-token greedy
    packer: bin count, token totals, and mean fill ppm — the number a
    training pipeline reads to size its sequence budget. fill_ppm uses
    decimal/HUGEINT integral division (token totals × 10^6 exceed int64
    at corpus scale)."""
    from seatunnel_spark.operators.curation import pack_stats

    return pack_stats(_t(spark, sf_dir, "documents"), budget=256)


@_reg(
    "domain_mix_sample",
    f"""
    WITH c AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    t AS (SELECT sum(n_docs) AS tot,
                 sum(CAST(floor(sqrt(n_docs) * 1000) AS BIGINT)) AS wsum FROM c),
    th AS (SELECT source,
                  least(CAST(1000000 AS BIGINT),
                        CAST(CAST(CAST(floor(sqrt(n_docs) * 1000) AS BIGINT) AS HUGEINT)
                             * (CAST(tot AS HUGEINT) * 500000 // 1000000)
                             * 1000000
                             // (CAST(wsum AS HUGEINT) * n_docs) AS BIGINT)) AS keep_ppm
           FROM c, t)
    SELECT d.doc_id, d.source, th.keep_ppm
    FROM documents d JOIN th USING (source)
    WHERE ({_dh48('doc_id::VARCHAR', 'mix')} % 1000000) < th.keep_ppm
    """,
)
def domain_mix_sample_q(spark, sf_dir):
    """Temperature-based domain mixing (alpha=0.5 sqrt re-weighting, the
    GPT-3/Gopher recipe): per-source keep thresholds in pure integer space
    (bit-exact across engines), md5 coin per doc — broadcast thresholds,
    zero corpus shuffle."""
    from seatunnel_spark.operators.curation import domain_mix_sample

    docs = _t(spark, sf_dir, "documents")
    return domain_mix_sample(docs, target_frac_ppm=500_000)


def _make_embedding_dedup_clusters_query():
    """Embedding-side capstone (round 4): LSH near-dup pairs (capped,
    identical to ann_lsh_pairs) → connected components → one canonical
    vector per cluster — the embedding twin of dedup_clusters, closing the
    similarity-search + dedup loop. The oracle reuses the pairs CTE plus
    the recursive min-label reachability the text-side capstone uses."""
    from seatunnel_spark.operators.similarity import _hyperplane

    dim, planes, threshold, cap = 64, 4, 0.3, 64
    hps = [_hyperplane(dim, p) for p in range(planes)]
    sign_terms_sql = " + ".join(
        f"(CASE WHEN round(list_dot_product(embedding::DOUBLE[], "
        f"[{', '.join(repr(v) for v in hp)}]::DOUBLE[]), 6) >= 0 THEN {1 << p} ELSE 0 END)"
        for p, hp in enumerate(hps)
    )
    sql = f"""
    WITH RECURSIVE sigs AS (
      SELECT vec_id, embedding, ({sign_terms_sql}) AS lsh_sig FROM embeddings
    ),
    small AS (
      SELECT lsh_sig FROM sigs GROUP BY lsh_sig HAVING count(*) <= {cap}
    ),
    capped AS (SELECT s.* FROM sigs s JOIN small USING (lsh_sig)),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b
        ON a.lsh_sig = b.lsh_sig AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]), 8) >= {threshold}
    ),
    edges AS (SELECT vec_a AS a, vec_b AS b FROM pairs
              UNION SELECT vec_b, vec_a FROM pairs),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id,
           (node = min(lbl)) AS is_canonical
    FROM reach GROUP BY node
    """

    def q(spark, sf_dir):
        from seatunnel_spark.operators.similarity import lsh_near_dup_pairs

        emb = _t(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
        pairs = lsh_near_dup_pairs(
            emb, dim, planes=planes, threshold=threshold,
            max_bucket=cap, round_dp=6,
        )
        return dedup_docs.dup_clusters(pairs, a_col="vec_a", b_col="vec_b")

    return q, sql


_emb_clusters_q, _emb_clusters_sql = _make_embedding_dedup_clusters_query()
QUERIES["embedding_dedup_clusters"] = _emb_clusters_q
ORACLES["embedding_dedup_clusters"] = _emb_clusters_sql


@_reg(
    "text_line_stats",
    """
    WITH s AS (
      SELECT doc_id,
             string_split(text, chr(10)) AS lns,
             string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS ws,
             length(text) - length(replace(text, '#', '')) AS n_hash,
             length(replace(text, '...', '~')) - length(replace(text, '...', '')) AS n_ell
      FROM documents)
    SELECT doc_id,
           CAST(len(lns) AS BIGINT) AS n_lines,
           round(len(list_filter(lns, x -> regexp_matches(trim(x), '^[-*•]')))::DOUBLE
                 / len(lns), 6) AS bullet_line_frac,
           round(len(list_filter(lns, x -> regexp_matches(rtrim(x), '(\\.\\.\\.|…)$')))::DOUBLE
                 / len(lns), 6) AS ellipsis_line_frac,
           round((n_hash + n_ell)::DOUBLE / len(ws), 6) AS symbol_word_ratio
    FROM s
    """,
)
def text_line_stats(spark, sf_dir):
    """Line-level Gopher quality filters (bullet/ellipsis line fractions,
    symbol-to-word ratio) — pure codegen'd expressions, no explode, no
    shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return text.line_stats(docs)


@_reg(
    "corpus_clean_strict",
    f"""
    WITH RECURSIVE
    {{MINHASH_CTES}},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    ),
    non_canon AS (
      SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(lbl)
    ),
    w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    wc AS (SELECT doc_id, t, count(*) AS c
           FROM (SELECT doc_id, unnest(ws) AS t FROM w) GROUP BY 1, 2),
    wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                      round(1 - count(*) / sum(c)::DOUBLE, 6) AS dup_word_frac,
                      round(max(c) / sum(c)::DOUBLE, 6) AS top_word_frac
               FROM wc GROUP BY 1),
    bg AS (
      SELECT DISTINCT {_dh48('g', 'contam')} AS gh
      FROM (SELECT unnest(list_distinct({_DG5})) AS g
            FROM documents WHERE doc_id % 97 = 0)),
    contaminated AS (
      SELECT DISTINCT doc_id
      FROM (SELECT doc_id, {_dh48('g', 'contam')} AS gh
            FROM (SELECT doc_id, unnest(list_distinct({_DG5})) AS g FROM documents))
      JOIN bg USING (gh)),
    sym AS (
      SELECT doc_id,
             round((length(text) - length(replace(text, '#', ''))
                    + length(replace(text, '...', '~')) - length(replace(text, '...', '')))::DOUBLE
                   / len(string_split(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ')),
                   6) AS symbol_word_ratio
      FROM documents)
    SELECT d.doc_id, d.lang, d.source, s.n_words, s.dup_word_frac
    FROM documents d JOIN wstats s USING (doc_id) JOIN sym USING (doc_id)
    WHERE d.n_chars >= 150 AND s.n_words >= 30
      AND s.dup_word_frac <= 0.6 AND s.top_word_frac <= 0.12
      AND sym.symbol_word_ratio <= 0.1
      AND d.doc_id NOT IN (SELECT doc_id FROM non_canon)
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    """.replace("{MINHASH_CTES}", _MINHASH_PAIRS_CTES),
)
def corpus_clean_strict(spark, sf_dir):
    """The COMPLETE preprocessing recipe in one composed plan — round 4's
    capstone over the capstone: corpus_clean's gates (quality ∧ repetition
    ∧ near-dup canonical-only) PLUS the symbol-ratio line gate and
    benchmark decontamination (docs sharing any 5-gram with the held-out
    eval slice are dropped — which removes the eval slice itself too, the
    intended train/eval split hygiene). Composition stays scale-shaped:
    every gate is a codegen'd expression or a broadcast anti-join against
    a tiny id set; the only wide work is unchanged from corpus_clean."""
    from seatunnel_spark.operators.curation import decontaminate
    from seatunnel_spark.operators.text import line_stats, repetition_stats

    docs = _t(spark, sf_dir, "documents")
    rep = repetition_stats(docs)
    sym = line_stats(docs).select("doc_id", "symbol_word_ratio")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    contaminated = (
        decontaminate(docs, bench, n=5)
        .where(F.col("contaminated"))
        .select("doc_id")
    )
    pairs = dedup_docs.minhash_lsh_pairs(
        docs, k=16, bands=4, max_bucket=10, min_band_matches=2,
        pair_policy="star",
    )
    verified = dedup_docs.ngram_jaccard(docs, pairs).where(F.col("jaccard") >= 0.2)
    non_canon = (
        dedup_docs.dup_clusters(verified)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    return (
        docs.join(rep, "doc_id")
        .join(sym, "doc_id")
        .where(
            (F.col("n_chars") >= 150)
            & (F.col("n_words") >= 30)
            & (F.col("dup_word_frac") <= 0.6)
            & (F.col("top_word_frac") <= 0.12)
            & (F.col("symbol_word_ratio") <= 0.1)
        )
        .join(non_canon, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_words", "dup_word_frac")
    )


@_reg(
    "text_line_dedup",
    f"""
    WITH c AS (
      SELECT doc_id,
             'nav-' || (doc_id % 7) || ' menu home' || chr(10) || text ||
             chr(10) || 'footer terms privacy contact' AS text
      FROM documents),
    l AS (
      SELECT doc_id, {_dh48("trim(x)", "line")} AS lh
      FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS x FROM c)
      WHERE trim(x) <> ''),
    dfq AS (SELECT lh, count(*) AS df_docs
            FROM (SELECT DISTINCT doc_id, lh FROM l) GROUP BY lh),
    b AS (SELECT lh AS blh FROM dfq WHERE df_docs >= 3)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(blh) AS BIGINT) AS n_boiler_lines,
           CAST((count(blh) * 1000000) // count(*) AS BIGINT) AS boiler_line_ppm
    FROM l LEFT JOIN b ON l.lh = b.blh
    GROUP BY doc_id
    """,
)
def text_line_dedup(spark, sf_dir):
    """Cross-document line-level boilerplate dedup (the CCNet/RefinedWeb
    line-dedup step). The documents table is single-line, so the head
    synthesizes the web shape in-query — a nav header shared by each
    doc_id%7 cohort and a corpus-wide footer — then runs the digest-keyed
    line-frequency pass (text.line_dedup_stats): lines shuffle as 48-bit
    digests only, never as text."""
    docs = _t(spark, sf_dir, "documents")
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.lit("nav-"), (F.col("doc_id") % 7).cast("string"),
            F.lit(" menu home\n"), F.col("text"),
            F.lit("\nfooter terms privacy contact"),
        ).alias("text"),
    )
    return text.line_dedup_stats(corpus, min_docs=3)


@_reg(
    "ann_quantized_topk",
    """
    WITH q8 AS (
      SELECT vec_id,
             CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(round(x * 127 / mx, 0) AS BIGINT))
             END AS c
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
            FROM embeddings))
    SELECT query_id, vec_id, round(qcos_raw, 5) AS qcos_sim, rank
    FROM (SELECT q.vec_id AS query_id, c.vec_id,
                 round(list_dot_product(q.c::DOUBLE[], c.c::DOUBLE[]) /
                       (sqrt(list_dot_product(q.c::DOUBLE[], q.c::DOUBLE[])) *
                        sqrt(list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[]))), 8) AS qcos_raw,
                 row_number() OVER (PARTITION BY q.vec_id
                                    ORDER BY round(list_dot_product(q.c::DOUBLE[], c.c::DOUBLE[]) /
                                                   (sqrt(list_dot_product(q.c::DOUBLE[], q.c::DOUBLE[])) *
                                                    sqrt(list_dot_product(c.c::DOUBLE[], c.c::DOUBLE[]))), 8) DESC,
                                             c.vec_id ASC) AS rank
          FROM q8 q JOIN q8 c ON c.vec_id != q.vec_id
          WHERE q.vec_id < 3)
    WHERE rank <= 5
    """,
)
def ann_quantized_topk(spark, sf_dir):
    """Cosine top-k over int8-quantized embeddings (similarity.quantize_int8
    + quantized_topk): the per-vector scale cancels out of cosine, so
    scoring is exact int64 dot products — the 4x-memory serving path for
    corpus-scale vector search, bit-identical across engines."""
    from seatunnel_spark.operators.similarity import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(emb, emb.where(F.col("vec_id") < 3), k=5)


@_reg(
    "text_token_rarity",
    f"""
    WITH tk AS (
      SELECT doc_id, {_dh48("t", "tok")} AS th
      FROM (SELECT doc_id,
                   unnest(string_split(regexp_replace(lower(trim(text)),
                                                      '\\s+', ' ', 'g'), ' ')) AS t
            FROM documents)
      WHERE t <> ''),
    tf AS (SELECT th, count(*) AS tf FROM tk GROUP BY th),
    tot AS (SELECT sum(tf) AS tot FROM tf),
    fp AS (SELECT th, tf,
                  CAST(CAST(tf AS HUGEINT) * 1000000 // tot AS BIGINT) AS fppm
           FROM tf, tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(CAST(sum(fppm) AS HUGEINT) // count(*) AS BIGINT) AS mean_tf_ppm,
           CAST(min(fppm) AS BIGINT) AS min_tf_ppm,
           CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
    FROM tk JOIN fp USING (th)
    GROUP BY doc_id
    """,
)
def text_token_rarity(spark, sf_dir):
    """Unigram-LM rarity proxy (text.token_rarity): per-token corpus ppm,
    integral per-doc mean — exact decimal/HUGEINT math both sides; tokens
    shuffle as 48-bit digests only."""
    docs = _t(spark, sf_dir, "documents")
    return text.token_rarity(docs)


@_reg(
    "corpus_decontaminate_fuzzy",
    f"""
    WITH bench AS (
      SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 97 = 0),
    bsig AS (
      SELECT bench_id,
             [list_min([('0x' || substr(md5(i::VARCHAR || '|' || s), 1, 12))::BIGINT
                        FOR s IN {_DSH}])
              FOR i IN range(0, 16)] AS mh
      FROM bench),
    bband AS (
      SELECT bench_id, b AS band,
             md5(array_to_string([mh[b * 4 + j + 1]::VARCHAR FOR j IN range(0, 4)], ',')) AS bh
      FROM bsig, range(0, 4) t(b)),
    csig AS (
      SELECT doc_id,
             [list_min([('0x' || substr(md5(i::VARCHAR || '|' || s), 1, 12))::BIGINT
                        FOR s IN {_DSH}])
              FOR i IN range(0, 16)] AS mh
      FROM documents),
    cband AS (
      SELECT doc_id, b AS band,
             md5(array_to_string([mh[b * 4 + j + 1]::VARCHAR FOR j IN range(0, 4)], ',')) AS bh
      FROM csig, range(0, 4) t(b)),
    cand AS (
      SELECT DISTINCT c.doc_id, b.bench_id
      FROM cband c JOIN bband b ON c.band = b.band AND c.bh = b.bh),
    csh AS (SELECT doc_id, list_distinct({_DSH}) AS cs FROM documents),
    bsh AS (SELECT doc_id AS bench_id, list_distinct({_DSH}) AS bs FROM documents
            WHERE doc_id % 97 = 0)
    SELECT doc_id, bench_id,
           round(len(list_intersect(cs, bs))::DOUBLE /
                 (len(cs) + len(bs) - len(list_intersect(cs, bs))), 6) AS jaccard
    FROM cand JOIN csh USING (doc_id) JOIN bsh USING (bench_id)
    WHERE len(list_intersect(cs, bs))::DOUBLE /
          (len(cs) + len(bs) - len(list_intersect(cs, bs))) >= 0.5
    """,
)
def corpus_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy (MinHash-LSH + Jaccard-verified) benchmark decontamination
    (curation.fuzzy_decontaminate): the benchmark set is the doc_id %% 97
    cohort, so hits are those docs plus their paraphrase-grade near-dups —
    the leakage the exact 13-gram rule misses. Bench bands and shingles
    broadcast; the corpus never self-joins."""
    from seatunnel_spark.operators.curation import fuzzy_decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    return fuzzy_decontaminate(docs, bench, threshold=0.5)


@_reg(
    "text_repeated_spans",
    f"""
    WITH nd AS (
      SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS t
      FROM documents),
    sp AS (
      SELECT doc_id, {_dh48("substr(t, i * 10 + 1, 40)", "span")} AS sh
      FROM (SELECT doc_id, t,
                   unnest(range(0, greatest(length(t) - 40, 0) // 10 + 1)) AS i
            FROM nd)),
    fq AS (SELECT sh, count(*) AS df_docs
           FROM (SELECT DISTINCT doc_id, sh FROM sp) GROUP BY sh),
    rp AS (SELECT sh AS rsh FROM fq WHERE df_docs >= 2)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(count(rsh) AS BIGINT) AS n_repeated_spans,
           CAST((count(rsh) * 1000000) // count(*) AS BIGINT) AS repeated_span_ppm
    FROM sp LEFT JOIN rp ON sp.sh = rp.rsh
    GROUP BY doc_id
    """,
)
def text_repeated_spans(spark, sf_dir):
    """Cross-document repeated-substring stats (text.repeated_spans): the
    windowed distributed shape of Lee-et-al exact-substring dedup — 40-char
    spans at stride 10, hashed to 48-bit digests, counted by distinct-doc
    frequency. Span text never shuffles."""
    docs = _t(spark, sf_dir, "documents")
    return text.repeated_spans(docs, window=40, stride=10, min_docs=2)


def _kmeans_sql_ctes(k: int, n_iters: int, dim: int = 64) -> str:
    """Shared CTE chain replaying clustering.kmeans_quantized bit-exactly
    in DuckDB: q8 int8 quantization, c0 md5-ordered init, a{i} assignment
    passes, c{i} floor(sum/count) integer-mean updates (empty clusters
    keep their previous centroid via the LEFT JOIN coalesce)."""

    def sim(v, t):
        return (
            f"CASE WHEN list_dot_product({v}.c::DOUBLE[], {v}.c::DOUBLE[]) > 0 "
            f"AND list_dot_product({t}.codes::DOUBLE[], {t}.codes::DOUBLE[]) > 0 "
            f"THEN round(list_dot_product({v}.c::DOUBLE[], {t}.codes::DOUBLE[]) / "
            f"(sqrt(list_dot_product({v}.c::DOUBLE[], {v}.c::DOUBLE[])) * "
            f"sqrt(list_dot_product({t}.codes::DOUBLE[], {t}.codes::DOUBLE[]))), 8) "
            f"ELSE -2 END"
        )

    parts = [
        f"""q8 AS (
      SELECT vec_id,
             CASE WHEN mx = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(round(x * 127 / mx, 0) AS BIGINT))
             END AS c
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS mx
            FROM embeddings)),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS INT) AS cid,
             c AS codes
      FROM q8
      QUALIFY row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) <= {k})"""
    ]
    for it in range(1, n_iters + 1):
        parts.append(
            f"""a{it} AS (
      SELECT vec_id, c, cid, sim FROM (
        SELECT v.vec_id, v.c, t.cid, {sim('v', 't')} AS sim,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {sim('v', 't')} DESC, t.cid ASC) AS rn
        FROM q8 v CROSS JOIN c{it - 1} t)
      WHERE rn = 1)"""
        )
        if it < n_iters:
            parts.append(
                f"""m{it} AS (
      SELECT cid, i, CAST(floor(sum(c[i])::DOUBLE / count(*)) AS BIGINT) AS mv
      FROM a{it}, range(1, {dim + 1}) t(i)
      GROUP BY cid, i),
    c{it} AS (
      SELECT p.cid, coalesce(g.codes, p.codes) AS codes
      FROM c{it - 1} p LEFT JOIN (SELECT cid, list(mv ORDER BY i) AS codes
                                  FROM m{it} GROUP BY cid) g USING (cid))"""
            )
    return ",\n    ".join(parts)


@_reg(
    "embedding_kmeans",
    f"""
    WITH {_kmeans_sql_ctes(k=8, n_iters=2)}
    SELECT vec_id, cid AS cluster, round(sim, 5) AS centroid_sim
    FROM a2
    """,
)
def embedding_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means trainer (clustering.kmeans_quantized):
    k=8, two assignment passes with one integer-mean centroid update in
    between, all arithmetic in int8-quantized integer space so the
    iterative algorithm replays bit-exactly in the oracle. Assignment is
    a zero-shuffle map with centroid literals; each update is one
    map-side-combinable agg of k x dim integer sums."""
    from seatunnel_spark.operators.clustering import kmeans_quantized

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_quantized(emb, k=8, n_iters=2).select(
        "vec_id", "cluster", F.round("centroid_sim", 5).alias("centroid_sim")
    )


@_reg(
    "semdedup_prune",
    f"""
    WITH {_kmeans_sql_ctes(k=8, n_iters=1)},
    psim AS (
      SELECT b.vec_id AS vid, a.vec_id AS keep_id,
             CASE WHEN list_dot_product(a.c::DOUBLE[], a.c::DOUBLE[]) > 0
                   AND list_dot_product(b.c::DOUBLE[], b.c::DOUBLE[]) > 0
                  THEN round(list_dot_product(a.c::DOUBLE[], b.c::DOUBLE[]) /
                             (sqrt(list_dot_product(a.c::DOUBLE[], a.c::DOUBLE[])) *
                              sqrt(list_dot_product(b.c::DOUBLE[], b.c::DOUBLE[]))), 8)
             END AS sim
      FROM a1 a JOIN a1 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
    dup AS (
      SELECT vid, keep_id AS dup_of, round(sim, 5) AS dup_sim
      FROM psim WHERE sim >= 0.3
      QUALIFY row_number() OVER (PARTITION BY vid ORDER BY keep_id) = 1)
    SELECT f.vec_id, f.cid AS cluster, (d.dup_of IS NULL) AS kept,
           d.dup_of, d.dup_sim
    FROM a1 f LEFT JOIN dup d ON f.vec_id = d.vid
    """,
)
def semdedup_prune(spark, sf_dir):
    """SemDeDup semantic dedup (clustering.semdedup_prune, arXiv:2303.09540):
    k-means partition then within-cluster prune — a vector is dropped iff
    a lower-id cluster-mate has quantized cosine >= 0.3; dup_of is the
    smallest such keeper. The pairwise step is confined inside clusters
    (the paper's design point for corpus scale) and shuffles int8 codes,
    never float vectors. k is DERIVED from corpus size (clustering.derive_k,
    target cluster ~256) so cluster cardinality — and with it the pair
    stage's per-cluster quadratic — stays bounded as the corpus grows:
    at sf0.01 (n=500) and sf0.1 (n=2000) the derivation lands on k=8,
    which is what the static oracle replays; at the 10x bench fixture
    (n=20000) it lands on k=128 and the stage goes linear. The
    max_cluster guard (16384) mirrors minhash_lsh_pairs.max_bucket and
    never trips at these sizes."""
    from seatunnel_spark.operators.clustering import semdedup_prune as _sp

    emb = _t(spark, sf_dir, "embeddings")
    return _sp(emb, k=None, threshold=0.3, n_iters=1, target_cluster=256)


@_reg(
    "corpus_split_assign",
    f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    ),
    clu AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
    rep AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key
      FROM documents d LEFT JOIN clu c USING (doc_id)),
    b AS (
      SELECT doc_id, split_key,
             ('0x' || substr(md5('split|' || CAST(split_key AS VARCHAR)), 1, 12))::BIGINT
               % 1000000 AS split_ppm
      FROM rep)
    SELECT doc_id, split_key, split_ppm,
           CASE WHEN split_ppm < 950000 THEN 'train'
                WHEN split_ppm < 975000 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def corpus_split_assign(spark, sf_dir):
    """Leakage-free train/val/test split (curation.leakage_free_split):
    the split key is the near-dup CLUSTER representative, so a training
    document's paraphrase can never land in the eval split — the
    contamination mode naive doc-hash splits miss. Buckets are exact
    integer ppm of a 48-bit md5, bit-identical to the oracle."""
    from seatunnel_spark.operators.curation import leakage_free_split

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup_docs.minhash_lsh_pairs(
        docs, k=16, bands=4, max_bucket=10, min_band_matches=2,
        pair_policy="star",
    )
    verified = dedup_docs.ngram_jaccard(docs, pairs).where(F.col("jaccard") >= 0.2)
    clusters = dedup_docs.dup_clusters(verified)
    return leakage_free_split(docs, clusters)


@_reg(
    "corpus_clean_report",
    f"""
    WITH RECURSIVE
    {_MINHASH_PAIRS_CTES},
    edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON r.node = e.b
    ),
    non_canon AS (
      SELECT node AS doc_id FROM reach GROUP BY node HAVING node <> min(lbl)
    ),
    w AS (
      SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents),
    wc AS (SELECT doc_id, t, count(*) AS c
           FROM (SELECT doc_id, unnest(ws) AS t FROM w) GROUP BY 1, 2),
    wstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
                      round(1 - count(*) / sum(c)::DOUBLE, 6) AS dup_word_frac,
                      round(max(c) / sum(c)::DOUBLE, 6) AS top_word_frac
               FROM wc GROUP BY 1)
    SELECT stage, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT CASE WHEN d.n_chars < 150 THEN 'short_chars'
                  WHEN s.n_words < 30 THEN 'few_words'
                  WHEN s.dup_word_frac > 0.6 THEN 'dup_word_frac'
                  WHEN s.top_word_frac > 0.12 THEN 'top_word_frac'
                  WHEN d.doc_id IN (SELECT doc_id FROM non_canon) THEN 'near_dup'
                  ELSE 'kept' END AS stage
      FROM documents d JOIN wstats s USING (doc_id))
    GROUP BY stage
    """,
)
def corpus_clean_report(spark, sf_dir):
    """Auditable cleaning funnel (curation.clean_funnel_report): every
    document attributed to its FIRST failing corpus_clean gate, per-gate
    drop counts + survivors. Same gates, same thresholds, same dedup
    spine as corpus_clean — by construction n_docs['kept'] equals
    corpus_clean's row count, and the report is the lineage view a 100 TB
    cleaning run needs."""
    from seatunnel_spark.operators.curation import clean_funnel_report
    from seatunnel_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    rep = repetition_stats(docs)
    pairs = dedup_docs.minhash_lsh_pairs(
        docs, k=16, bands=4, max_bucket=10, min_band_matches=2,
        pair_policy="star",
    )
    verified = dedup_docs.ngram_jaccard(docs, pairs).where(F.col("jaccard") >= 0.2)
    non_canon = (
        dedup_docs.dup_clusters(verified)
        .where(~F.col("is_canonical"))
        .select("doc_id")
    )
    return clean_funnel_report(docs, rep, non_canon)


# DuckDB fragment: 13-word grams of `text` (matches curation._ngrams(n=13))
_DG13 = (
    f"[array_to_string(list_slice({_DW}, i, i + 12), ' ') "
    f"FOR i IN range(1, greatest(len({_DW}) - 12, 1) + 1)]"
)


@_reg(
    "s3_uneven_chunk_walk",
    """
    WITH r AS (SELECT k, row_number() OVER (ORDER BY k) AS rn
               FROM (SELECT DISTINCT o_orderkey AS k FROM orders))
    SELECT CAST((rn - 1) // 2000 AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_rows, min(k) AS key_lo, max(k) AS key_hi
    FROM r GROUP BY 1
    """,
)
def s3_uneven_chunk_walk(spark, sf_dir):
    """Uneven chunk splitter (sharding.uneven_chunk_splits; reference
    splitUnevenlySizedChunks, AbstractJdbcSourceChunkSplitter.java:183-231):
    chunk boundaries at every chunk_size-th DISTINCT key in key order —
    the reference's serial MAX-over-LIMIT walk produces exactly these
    cuts, one DB round-trip per chunk; here the rank is the two-phase
    distributed rank (range repartition of the key column + per-partition
    offsets), so 10^10 rows need zero serial round-trips. TPC-H orderkeys
    are gap-heavy (sparse key space), the exact case the even splitter's
    distributionFactor guard rejects."""
    from seatunnel_spark.operators.sharding import uneven_chunk_splits

    o = _t(spark, sf_dir, "orders")
    return uneven_chunk_splits(o, "o_orderkey", chunk_size=2000)


@_reg(
    "text_ngram_novelty",
    f"""
    WITH dg AS (
      SELECT doc_id, {_dh48('g', 'novel')} AS gh
      FROM (SELECT doc_id, unnest(list_distinct({_DG13})) AS g FROM documents)),
    nd AS (SELECT gh, count(*) AS n_docs FROM dg GROUP BY gh)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
           CAST(((count(*) - sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)) * 1000000)
                // count(*) AS BIGINT) AS novelty_ppm
    FROM dg JOIN nd USING (gh) GROUP BY doc_id
    """,
)
def text_ngram_novelty(spark, sf_dir):
    """Per-doc 13-gram novelty (text.ngram_novelty): exact fraction of a
    document's distinct 13-grams that occur in NO other document — the
    corpus-duplication audit that catches chunk-assembled documents
    doc-level MinHash misses (and the doc-granular view of the
    repeated-spans signal, at the decontamination industry-standard n=13).
    Grams shuffle as 48-bit digests; frequency is one map-side-combinable
    agg."""
    from seatunnel_spark.operators.text import ngram_novelty

    docs = _t(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=13)


@_reg(
    "vocab_top_tokens",
    f"""
    WITH tf AS (
      SELECT t AS token, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT unnest({_DW}) AS t FROM documents)
      WHERE t <> '' GROUP BY 1)
    SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS BIGINT) AS rank,
           token, tf
    FROM tf ORDER BY tf DESC, token LIMIT 100
    """,
)
def vocab_top_tokens(spark, sf_dir):
    """Corpus vocabulary head (text.vocab_top_tokens): top-100 tokens by
    exact corpus frequency, deterministic tie-break by token string — the
    tokenizer-training / stopword-calibration view. One map-side-combinable
    aggregate (the only shuffle, one row per distinct token) feeding
    Spark's TakeOrdered top-k — per-partition heaps, never a full sort."""
    from seatunnel_spark.operators.text import vocab_top_tokens as _vt

    docs = _t(spark, sf_dir, "documents")
    return _vt(docs, top_n=100)


@_reg(
    "text_char_diversity",
    """
    WITH ch AS (
      SELECT doc_id,
             unnest(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), '')) AS c1
      FROM documents),
    h AS (SELECT doc_id, c1, count(*) AS c FROM ch WHERE c1 <> '' GROUP BY 1, 2)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           CAST(CASE WHEN sum(c) > 1
                     THEN (sum(c * (c - 1))::HUGEINT * 1000000)
                          // (sum(c)::HUGEINT * (sum(c) - 1))
                     ELSE 1000000 END AS BIGINT) AS simpson_ppm,
           CAST((max(c) * 1000000) // sum(c) AS BIGINT) AS top_char_ppm
    FROM h GROUP BY doc_id
    """,
)
def text_char_diversity(spark, sf_dir):
    """Character-diversity gate (text.char_diversity): Simpson collision
    index over each doc's normalized char histogram — the
    mojibake/binary-spill/char-flood detector. A pure integer rational
    (entropy's transcendental log is NOT exactly rounded across engines,
    Simpson is bit-exact); decimal(38,0) ppm math mirrors token_rarity's
    overflow discipline."""
    from seatunnel_spark.operators.text import char_diversity

    docs = _t(spark, sf_dir, "documents")
    return char_diversity(docs)


@_reg(
    "corpus_sample_stratified",
    """
    SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
    FROM (SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5('strat|' || CAST(doc_id AS VARCHAR)), doc_id
                 ) AS rn
          FROM documents)
    WHERE rn <= 10
    """,
)
def corpus_sample_stratified(spark, sf_dir):
    """Deterministic stratified sample (curation.stratified_sample):
    exactly min(10, |stratum|) docs per source, chosen by md5 rank — an
    unbiased, engine-reproducible eval/review draw (uniform sampling
    over-represents big domains; seeded RNGs don't replay across
    engines). One shuffle keyed by stratum; only (id, digest) pairs
    sort."""
    from seatunnel_spark.operators.curation import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, strata_col="source", n_per_stratum=10)


def _bpe_sql(n_merges: int = 4, passes: int = 4) -> str:
    """Unrolled-iteration DuckDB replay of operators/bpe.bpe_train (the
    k-means-oracle technique applied to BPE): word counts once, then per
    merge iteration (a) zipped-unnest adjacent pair counts, (b) the
    deterministic argmax (count desc, pair asc), (c) ``passes`` literal
    replace passes — the exact fixpoint discipline the Spark side applies,
    so segmentations stay bit-identical."""
    ctes = [
        f"""wc AS (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest({_DW}) AS w FROM documents)
      WHERE w <> '' GROUP BY w),
    s1 AS (
      SELECT n, ' ' || array_to_string(list_filter(string_split(w, ''), c -> c <> ''), ' ')
             || ' </w> ' AS seg
      FROM wc)"""
    ]
    for i in range(1, n_merges + 1):
        rep = "seg"
        for _ in range(passes):
            rep = f"replace({rep}, mp.p, mp.q)"
        ctes.append(f"""t{i} AS (SELECT n, string_split(trim(seg), ' ') AS t FROM s{i}),
    pc{i} AS (
      SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt
      FROM (SELECT n, unnest(t[1:len(t)-1]) AS l, unnest(t[2:len(t)]) AS r FROM t{i})
      GROUP BY l, r),
    m{i} AS (SELECT l, r, cnt FROM pc{i} ORDER BY cnt DESC, l, r LIMIT 1),
    s{i + 1} AS (
      SELECT wc.n, {rep} AS seg
      FROM s{i} wc CROSS JOIN
        (SELECT ' ' || l || ' ' || r || ' ' AS p, ' ' || l || r || ' ' AS q FROM m{i}) mp)""")
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_rank, l AS \"left\", r AS \"right\", "
        f"l || r AS merged, cnt AS pair_count FROM m{i}"
        for i in range(1, n_merges + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


@_reg("text_bpe_merges", _bpe_sql(n_merges=4, passes=4))
def text_bpe_merges(spark, sf_dir):
    """Distributed BPE vocabulary training (operators/bpe.bpe_train,
    Sennrich et al. 2016): 4 merge iterations over the documents corpus.
    One corpus-scale map-side-combinable (word, count) aggregate; every
    iteration then runs on the vocabulary-bounded word table — pair counts
    are a narrow explode + small agg, the merge is `passes` codegen'd
    LITERAL replaces (runs longer than ~2^passes same-pair adjacencies
    degrade deterministically — the documented fixpoint bound both engines
    share). Driver state: 4 merge rows. The DuckDB oracle replays all four
    iterations unrolled."""
    from seatunnel_spark.operators.bpe import bpe_train

    docs = _t(spark, sf_dir, "documents")
    return bpe_train(docs, n_merges=4, min_freq=2, passes=4)


# DuckDB fragments: word unigrams and bigrams matching curation._ngrams(1|2)
_DG1 = (
    f"[array_to_string(list_slice({_DW}, i, i), ' ') "
    f"FOR i IN range(1, greatest(len({_DW}), 1) + 1)]"
)
_DG2 = (
    f"[array_to_string(list_slice({_DW}, i, i + 1), ' ') "
    f"FOR i IN range(1, greatest(len({_DW}) - 1, 1) + 1)]"
)


@_reg(
    "corpus_dsir_scores",
    f"""
    WITH tgt AS (
      SELECT * FROM documents
      WHERE source = (SELECT min(source) FROM documents)),
    rawf AS (
      SELECT {_dh48('g', 'dsir')} % 4096 AS bucket, CAST(count(*) AS BIGINT) AS rc
      FROM (SELECT unnest(list_concat({_DG1}, {_DG2})) AS g FROM documents)
      GROUP BY 1),
    tgtf AS (
      SELECT {_dh48('g', 'dsir')} % 4096 AS bucket, CAST(count(*) AS BIGINT) AS tc
      FROM (SELECT unnest(list_concat({_DG1}, {_DG2})) AS g FROM tgt)
      GROUP BY 1),
    lr AS (
      SELECT r.bucket,
             CAST(length(bin(coalesce(t.tc, 0) + 1)) - length(bin(r.rc + 1))
                  AS BIGINT) AS lr
      FROM rawf r LEFT JOIN tgtf t USING (bucket)),
    docf AS (
      SELECT doc_id, {_dh48('g', 'dsir')} % 4096 AS bucket,
             CAST(count(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(list_concat({_DG1}, {_DG2})) AS g FROM documents)
      GROUP BY 1, 2)
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats,
           CAST(sum(c * lr) AS BIGINT) AS score
    FROM docf JOIN lr USING (bucket)
    GROUP BY doc_id
    """,
)
def corpus_dsir_scores(spark, sf_dir):
    """DSIR-style importance scores (curation.dsir_scores, arXiv:2302.03169):
    rank every corpus document by hashed unigram+bigram likelihood ratio
    against a target domain (here: the lexicographically-first source in
    the fixture — deterministic). Bucket models are 4096-bounded and
    broadcast; doc features shuffle as digest buckets with counts, never
    text. The log-ratio is quantized to integer log2 magnitudes
    (length(bin(c+1))) so the oracle replays bit-exactly — ln() is not
    correctly-rounded cross-engine; the operator docstring records the
    divergence from the paper's ln()."""
    from seatunnel_spark.operators.curation import dsir_scores

    docs = _t(spark, sf_dir, "documents")
    tgt_source = docs.agg(F.min("source")).collect()[0][0]
    target = docs.where(F.col("source") == F.lit(tgt_source))
    return dsir_scores(docs, target, n_buckets=4096)


def _bpe_segment_sql(n_merges: int = 4, passes: int = 4) -> str:
    """Extends _bpe_sql: after learning the merges, re-segment every
    document's words with all n_merges merges applied in rank order
    (passes-bounded literal replaces, the operator's exact fixpoint
    discipline) and count BPE tokens per doc."""
    base = _bpe_sql(n_merges, passes)
    ctes = base[: base.rindex("SELECT CAST(1")].rstrip().rstrip(",")
    # per-doc segmentation: chain n_merges x passes replaces, each merge's
    # (p, q) from its m{i} CTE via scalar subqueries
    seg = "' ' || array_to_string(list_filter(string_split(w, ''), c -> c <> ''), ' ') || ' </w> '"
    for i in range(1, n_merges + 1):
        p = f"(SELECT ' ' || l || ' ' || r || ' ' FROM m{i})"
        q = f"(SELECT ' ' || l || r || ' ' FROM m{i})"
        for _ in range(passes):
            seg = f"replace({seg}, {p}, {q})"
    return f"""{ctes},
    dw AS (SELECT doc_id, unnest({_DW}) AS w FROM documents),
    dseg AS (SELECT doc_id, {seg} AS seg FROM dw WHERE w <> '')
    SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
    FROM (SELECT doc_id, unnest(string_split(trim(seg), ' ')) AS token FROM dseg)
    GROUP BY doc_id, token
    """


@_reg("text_bpe_segment", _bpe_segment_sql(n_merges=4, passes=4))
def text_bpe_segment(spark, sf_dir):
    """BPE tokenization with the corpus-learned merges (operators/bpe
    bpe_train -> bpe_segment): per-doc (token, count) under the
    4-iteration vocabulary — train and apply verified together against a
    DuckDB replay that unrolls the training AND re-applies every merge as
    the same passes-bounded literal replaces. Apply side is pure
    expressions (16 chained replaces), zero shuffle before the per-doc
    count."""
    from seatunnel_spark.operators.bpe import bpe_segment, bpe_train

    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=4, min_freq=2).orderBy("merge_rank").collect()
    ]
    return bpe_segment(docs, merges)


# =====================================================================
# Round-6 additions: bigram-LM scoring, lateness audit, cosine range
# search, DDL-offset segmentation, domain mix report
# =====================================================================

@_reg(
    "text_bigram_surprise",
    f"""
    WITH pairs AS (
      SELECT doc_id, {_dh48('g', 'blm')} AS hg,
             {_dh48("string_split(g, ' ')[1]", 'blm-p')} AS hp
      FROM (SELECT doc_id, unnest({_DG2}) AS g FROM documents)),
    bg AS (SELECT hg, hp, CAST(count(*) AS BIGINT) AS bc FROM pairs GROUP BY 1, 2),
    pf AS (SELECT hp, CAST(sum(bc) AS BIGINT) AS pc FROM bg GROUP BY 1),
    model AS (
      SELECT hg, bg.hp,
             CAST(length(bin(pc + 1)) - length(bin(bc + 1)) AS BIGINT) AS bits
      FROM bg JOIN pf USING (hp))
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(bits) AS BIGINT) AS sum_bits,
           CAST((sum(bits) * 100) // count(*) AS BIGINT) AS mean_centibits
    FROM pairs JOIN model USING (hg, hp)
    GROUP BY doc_id
    """,
)
def text_bigram_surprise(spark, sf_dir):
    """Bigram-LM fluency scoring (text.bigram_surprise): CCNet's
    perplexity filter with the likelihood quantized to integer log2
    surprise bits (length(bin(c+1)) — ln() is not correctly-rounded
    cross-engine). One corpus bigram aggregate serves as both the bigram
    and (re-aggregated) prefix model; tokens shuffle only as 48-bit
    digests."""
    from seatunnel_spark.operators.text import bigram_surprise

    return bigram_surprise(_t(spark, sf_dir, "documents"))


@_reg(
    "stream_late_events",
    """
    WITH flagged AS (
      SELECT event_type, epoch_us(ts) AS us,
             max(epoch_us(ts)) OVER (ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
      FROM events)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN wm IS NOT NULL AND us < wm - 3600000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST((sum(CASE WHEN wm IS NOT NULL AND us < wm - 3600000000
                          THEN 1 ELSE 0 END) * 1000000) // count(*) AS BIGINT)
             AS late_ppm
    FROM flagged GROUP BY event_type
    """,
)
def stream_late_events(spark, sf_dir):
    """Watermark lateness audit (operators/lateness.late_events): replay
    Spark's EventTimeWatermark fence over the persisted log as a batch
    query — watermark at arrival i = max event time before i (by
    event_id arrival order), late = event time behind fence - 1h. The
    operator's two-phase distributed prefix-max (chunk maxima -> tiny
    cross-chunk window -> in-chunk windows) must agree with the oracle's
    single sequential window exactly."""
    from seatunnel_spark.operators.lateness import late_events

    ev = _t(spark, sf_dir, "events")
    flagged = late_events(ev, "event_id", "ts", delay_s=3600, chunk_span=10_000)
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.col("is_late").cast("int")).cast("bigint").alias("n_late"),
        F.expr(
            "CAST((sum(CAST(is_late AS INT)) * 1000000) div count(*) AS BIGINT)"
        ).alias("late_ppm"),
    )


@_reg(
    "ann_range_search",
    """
    SELECT q.vec_id AS query_id, c.vec_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 8) AS cos_sim
    FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 3
      AND round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 8) >= 0.15
    """,
)
def ann_range_search(spark, sf_dir):
    """Cosine range query (similarity.range_search): all corpus vectors
    within the radius of each query — map-only (broadcast queries, no
    shuffle, no ranking state), the recall-sweep companion to top-k."""
    from seatunnel_spark.operators.similarity import range_search

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return range_search(emb, emb.where(F.col("vec_id") < 3), threshold=0.15)


@_reg(
    "s9_ddl_segments",
    """
    WITH marks AS (
      SELECT event_id FROM events WHERE event_id % 5000 = 0),
    seg AS (
      SELECT e.event_id, e.value,
             (SELECT count(*) FROM marks m WHERE m.event_id < e.event_id)
               AS segment_id
      FROM events e WHERE e.event_id % 5000 != 0)
    SELECT segment_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(event_id) AS BIGINT) AS seq_min,
           CAST(max(event_id) AS BIGINT) AS seq_max
    FROM seg GROUP BY segment_id
    """,
)
def s9_ddl_segments(spark, sf_dir):
    """Schema-change stream splitting as a batch-checkable head (SURVEY
    S9): events between DDL offsets form half-open segments (prev, next] —
    a DML with seq EQUAL to a DDL's seq applies BEFORE that DDL, the same
    interval rule as the engine's seq-bounded wire bindings
    (streaming.job.project_to_table_schema).
    Marker rows stand in for DDLs (every 5000th event_id). The marker set
    is aggregated to ONE sorted array row and broadcast — segment id =
    markers strictly below my seq — mirroring how the engine's metadata
    pass collects DDL offsets without a second scan."""
    ev = _t(spark, sf_dir, "events")
    is_mark = F.pmod(F.col("event_id"), F.lit(5000)) == 0
    marks = ev.where(is_mark).agg(
        F.sort_array(F.collect_list("event_id")).alias("marks")
    )
    return (
        ev.where(~is_mark)
        .crossJoin(F.broadcast(marks))
        .select(
            F.col("event_id"),
            F.size(
                F.filter(F.col("marks"), lambda m: m < F.col("event_id"))
            ).cast("bigint").alias("segment_id"),
        )
        .groupBy("segment_id")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("event_id").cast("bigint").alias("seq_min"),
            F.max("event_id").cast("bigint").alias("seq_max"),
        )
    )


@_reg(
    "corpus_domain_stats",
    """
    WITH pertok AS (
      SELECT source, len(list_filter(string_split(regexp_replace(lower(trim(text)),
               '\\s+', ' ', 'g'), ' '), t -> t <> '')) AS n_toks
      FROM documents),
    tot AS (SELECT sum(n_toks) AS tt, count(*) AS td FROM pertok)
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST((sum(n_toks) * 1000000) // max(tt) AS BIGINT) AS token_share_ppm,
           CAST((count(*) * 1000000) // max(td) AS BIGINT) AS doc_share_ppm
    FROM pertok, tot GROUP BY source
    """,
)
def corpus_domain_stats(spark, sf_dir):
    """Domain mix report — the measurement half of temperature mixing
    (curation.domain_mix_sample consumes exactly these shares): per-source
    doc and token counts with integer-ppm shares of the corpus. One
    map-side-combinable aggregate; the corpus totals are a broadcast
    scalar."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(
                F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "),
                " ",
            ),
            lambda t: t != "",
        )
    )
    per = docs.select("source", toks.cast("bigint").alias("n_toks"))
    agg = per.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("n_tokens"),
    )
    tot = agg.agg(
        F.sum("n_tokens").alias("tt"), F.sum("n_docs").alias("td")
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.expr("CAST((n_tokens * 1000000) div tt AS BIGINT)").alias(
            "token_share_ppm"
        ),
        F.expr("CAST((n_docs * 1000000) div td AS BIGINT)").alias(
            "doc_share_ppm"
        ),
    )
