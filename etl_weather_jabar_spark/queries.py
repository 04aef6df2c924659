"""The engine's named query registry + DuckDB oracle twins.

One entry per operator class from SURVEY §2 (plus the north-star
extensions), each exercised on the driver's synthetic tables
(/root/testdata/sf*/ — TESTDATA.md). Every Spark query has an ANSI-SQL twin
in ``ORACLE_SQL`` that DuckDB runs on the same parquet; the driver compares
row-count + schema + order-insensitive value-hash (see __spark_entry__.py).

Cross-engine determinism rules used throughout:

* doubles that pass through aggregation are ``round(x, 2..6)`` on BOTH sides
  (absorbs float summation-order noise);
* integer sums are CAST to BIGINT in DuckDB (its sum(int) is HUGEINT);
* timestamps are output as formatted strings (Spark µs vs DuckDB ns);
* collected lists are sorted and joined to strings with explicit ordering;
* hashes are md5-derived (bit-identical in both engines);
* ties in every top-k / mode / keep-first are broken by a total order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .ext.dedup_text import (
    cdc_chunk_dedup,
    crossdoc_repeated_ngrams,
    jaccard_verify,
    minhash_lsh_candidates,
    simhash64,
)
from .ext.profiling import profile_columns
from .ext.sampling import (
    _hex_thresh,
    hash_split,
    shards_sql,
    shuffle_shards,
    split_sql as _split_sql,
    stratified_hash_sample,
    weighted_sample,
    weighted_sample_sql,
)
from .ext.timeseries import dyadic_ewma
from .ext.similarity import brute_force_topk, lsh_bucketed_topk
from .functions.text import (
    LANG_MARKERS,
    marker_hits,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count_bpe_ish,
    token_count_ws,
)
from .functions.exact import floor_div, half_up_div
from .functions.weather import heat_index_c
from .operators.aggregates import (
    deterministic_mode,
    equi_width_histogram,
    exact_distinct_bitmap,
    standardize,
    winsorize,
)
from .operators.dedup import dedupe_keep_first, find_duplicate_groups
from .operators.partitioning import spread
from .sources.parquet import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def _register(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco


# Exact integer-unit aggregation of double measures. Two engine-difference
# traps: (a) summing doubles is order-dependent (parallel aggregation), and
# (b) even on a bit-identical double, round() differs — Spark rounds the
# shortest decimal string of the double (4201.315 → 4201.32) while DuckDB
# rounds the binary value (4201.31499… → 4201.31). So: convert each row to
# exact integer units (k = the measure's true decimal places — the per-row
# round never sees a .5 boundary), sum integers (exact, order-free), apply
# round-half-up in pure integer arithmetic, divide back to double (IEEE
# division of the same integers — identical everywhere). Intermediates stay
# < 2^53 at the tested scale factors.

def _units(col, k: int):
    return F.round(col * F.lit(float(10**k))).cast("bigint")


def _half_up_div(num, den):
    """round-half-up(num/den), exact — the shared implementation lives in
    functions/exact.py::half_up_div (decimal-promoted so 64-bit
    intermediates can't wrap); the SQL twin `_sql_halfup` mirrors the
    same floor formula."""
    return half_up_div(num, den)


def _dec_sum(col, nd: int = 2, k: int | None = None):
    k = nd if k is None else k
    su = F.sum(_units(col, k))
    if k == nd:
        out = su
    elif k > nd:
        out = _half_up_div(su, F.lit(10 ** (k - nd)).cast("bigint"))
    else:
        out = su * F.lit(10 ** (nd - k)).cast("bigint")
    return out / F.lit(float(10**nd))


def _dec_avg(col, nd: int = 2, k: int | None = None):
    k = nd if k is None else k
    su = F.sum(_units(col, k))
    n = F.count(col)
    out = _half_up_div(su * F.lit(10**nd).cast("bigint"), n * F.lit(10**k).cast("bigint"))
    return out / F.lit(float(10**nd))


def _sql_halfup(num: str, den: str) -> str:
    a = f"(2*({num}) + ({den}))"
    b = f"(2*({den}))"
    return f"(({a} - ((({a}) % ({b}) + ({b})) % ({b}))) // ({b}))"


def _sql_floordiv(num: str, den: str) -> str:
    """floor(num/den) for a possibly-NEGATIVE numerator: DuckDB's `//`
    TRUNCATES toward zero on integer operands (-1 // 10 = 0), unlike
    Spark's floor_div — subtract the nonneg pmod first so the division
    is exact and trunc == floor. (Caught by the round-7 sf0.1 gate:
    three negative-balance customers banded differently per engine.)"""
    m = f"((({num}) % ({den}) + ({den})) % ({den}))"
    return f"((({num}) - {m}) // ({den}))"


def _sql_sum(x: str, nd: int = 2, k: int | None = None) -> str:
    k = nd if k is None else k
    su = f"sum(CAST(round(({x}) * {10**k}) AS BIGINT))"
    if k == nd:
        out = su
    elif k > nd:
        out = _sql_halfup(su, str(10 ** (k - nd)))
    else:
        out = f"({su}) * {10 ** (nd - k)}"
    return f"(CAST({out} AS DOUBLE) / {float(10**nd)})"


def _sql_avg(x: str, nd: int = 2, k: int | None = None) -> str:
    k = nd if k is None else k
    su = f"sum(CAST(round(({x}) * {10**k}) AS BIGINT))"
    out = _sql_halfup(f"({su}) * {10**nd}", f"count({x}) * {10**k}")
    return f"(CAST({out} AS DOUBLE) / {float(10**nd)})"


# The whitespace token count used by token_count_stats — packing counts
# the same way (plain lower+split, no punctuation stripping).
_WS_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')"
)

# The normalized tokenizer chain (functions/text.py::tokens) — shared by
# text_quality / ngram_topk_vocab / tfidf_top_terms / the simhash oracles.
_NORM_TOKENS_SQL = """list_filter(regexp_split_to_array(
        regexp_replace(regexp_replace(lower(trim(text)),
            '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'),
        ' '), t -> t <> '')"""


def _simhash_fp_cte() -> str:
    """Shared DuckDB CTE chain ending in ``fp(doc_id, simhash)`` — the twin
    of ext/dedup_text.py::simhash64 in md5 mode (the registry default):
    normalized tokens → 60-bit md5-derived hash per token → per-doc majority
    vote per bit → fingerprint; token-less docs get fingerprint 0 (the
    left-join/coalesce path in simhash64)."""
    bits = ",\n               ".join(
        f"sum((h >> {i}) & 1) AS b{i}" for i in range(60)
    )
    fp = "\n                 + ".join(
        f"(CASE WHEN 2 * b{i} > n THEN {2**i} ELSE 0 END)" for i in range(60)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents
    ), th AS (
        SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h
        FROM (SELECT doc_id, unnest(t) AS tk FROM toks)
    ), bits AS (
        SELECT doc_id, count(*) AS n,
               {bits}
        FROM th GROUP BY doc_id
    ), fp AS (
        SELECT d.doc_id, coalesce(b.fp0, 0)::BIGINT AS simhash
        FROM documents d
        LEFT JOIN (SELECT doc_id,
                          ({fp})::BIGINT AS fp0
                   FROM bits) b USING (doc_id)
    )
    """


def _minhash_front_sql() -> tuple[str, str]:
    """(mins, bands) SQL fragments of the md5-mode MinHash(16)+LSH(4)
    chain — shared by the near-dup pair twin and the incremental gate
    twin so both certify the ONE signature arithmetic."""
    mins = ",\n               ".join(
        f"min(('0x' || substr(md5(sg || ':{i // 2}'), "
        f"{1 + 15 * (i % 2)}, 15))::BIGINT) AS h{i}"
        for i in range(16)
    )
    bands = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', h{o0}, h{o1}, h{o2}, h{o3})"
        " AS bucket FROM sig".format(
            b=b, o0=4 * b, o1=4 * b + 1, o2=4 * b + 2, o3=4 * b + 3
        )
        for b in range(4)
    )
    return mins, bands


def _minhash_neardup_sql() -> str:
    """DuckDB twin of the md5-mode MinHash(16)+LSH(4 bands, 5-gram
    shingles) candidate pairs → exact shingle-Jaccard ≥ 0.5 verify
    (ext/dedup_text.py::minhash_lsh_candidates + jaccard_verify)."""
    mins, bands = _minhash_front_sql()
    return f"""
    WITH toks AS (
        SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) <= 5 THEN [array_to_string(t, ' ')]
                    ELSE [array_to_string(t[i:i+4], ' ')
                          for i in range(1, len(t) - 3)]
               END AS s
        FROM toks
    ), shingle_rows AS (
        SELECT DISTINCT doc_id, unnest(s) AS sg FROM sh
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM shingle_rows
        GROUP BY doc_id
    ), banded AS (
        {bands}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ), sz AS (
        SELECT doc_id, count(*) AS sz FROM shingle_rows GROUP BY doc_id
    ), inter AS (
        SELECT c.id_a, c.id_b, count(*) AS inter
        FROM cand c
        JOIN shingle_rows x ON x.doc_id = c.id_a
        JOIN shingle_rows y ON y.doc_id = c.id_b AND y.sg = x.sg
        GROUP BY 1, 2
    ), scored AS (
        SELECT c.id_a, c.id_b,
               round(coalesce(i.inter, 0)
                     / (sa.sz + sb.sz - coalesce(i.inter, 0))::DOUBLE,
                     6) AS jaccard
        FROM cand c
        LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
        JOIN sz sa ON sa.doc_id = c.id_a
        JOIN sz sb ON sb.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.5
    """


def _minhash_gate_sql() -> str:
    """DuckDB twin of the incremental MinHash dedup GATE
    (ext/dedup_text.py::incremental_lsh_neardup, md5 mode): the old
    slice (doc_id%3≠2) bootstraps the persisted band store with
    greedy-by-id within-batch dedup, then the new slice (doc_id%3=2)
    drops a doc iff it shares a band bucket AND agrees on ≥ 12/16
    signature coordinates (0.7 threshold) with any INDEXED SURVIVOR or
    any smaller-id doc of its own batch — the one-pass greedy rule,
    replayed exactly (a dropped smaller-id doc still blocks, matching
    the engine's batch_pairs expansion)."""
    mins, bands = _minhash_front_sql()
    agree = " + ".join(
        f"(sa.h{i} = sb.h{i})::INT" for i in range(16)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) <= 5 THEN [array_to_string(t, ' ')]
                    ELSE [array_to_string(t[i:i+4], ' ')
                          for i in range(1, len(t) - 3)]
               END AS s
        FROM toks
    ), shingle_rows AS (
        SELECT DISTINCT doc_id, unnest(s) AS sg FROM sh
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM shingle_rows
        GROUP BY doc_id
    ), banded AS (
        {bands}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ), mt AS (
        SELECT p.id_a, p.id_b
        FROM pairs p
        JOIN sig sa ON sa.doc_id = p.id_a
        JOIN sig sb ON sb.doc_id = p.id_b
        WHERE {agree} >= 12
    ), old_drop AS (
        SELECT DISTINCT id_b AS doc_id FROM mt
        WHERE id_a % 3 <> 2 AND id_b % 3 <> 2
    ), old_surv AS (
        SELECT doc_id FROM documents
        WHERE doc_id % 3 <> 2
          AND doc_id NOT IN (SELECT doc_id FROM old_drop)
    ), new_drop AS (
        SELECT DISTINCT d AS doc_id FROM (
            SELECT m.id_b AS d FROM mt m
            JOIN old_surv o ON o.doc_id = m.id_a
            WHERE m.id_b % 3 = 2
            UNION ALL
            SELECT m.id_a AS d FROM mt m
            JOIN old_surv o ON o.doc_id = m.id_b
            WHERE m.id_a % 3 = 2
            UNION ALL
            SELECT m.id_b AS d FROM mt m
            WHERE m.id_a % 3 = 2 AND m.id_b % 3 = 2
        )
    )
    SELECT doc_id,
           doc_id NOT IN (SELECT doc_id FROM new_drop) AS kept
    FROM documents WHERE doc_id % 3 = 2
    """


# =========================================================================
# Core reference operators (SURVEY §2) on the synthetic tables
# =========================================================================

# --- flagship: the Gold recap aggregate spine (A4+A5+A8, scan→derive→agg) ---
@_register(
    "recap_daily_agg",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           event_type,
           {_sql_avg('value')}                        AS value_avg,
           min(value)                                 AS value_min,
           max(value)                                 AS value_max,
           coalesce({_sql_sum('value')}, 0.0)         AS value_sum,
           count(*)                                   AS n_obs
    FROM events
    GROUP BY 1, 2
    """,
)
def recap_daily_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5/A8 (daily_compile_weather.py:60-94): grouped avg(2dp)/min/max +
    null-to-zero sum per (day, type). One shuffle, partial-agg combined."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("date"), "event_type"
    ).agg(
        _dec_avg(F.col("value")).alias("value_avg"),
        F.min("value").alias("value_min"),
        F.max("value").alias("value_max"),
        F.coalesce(_dec_sum(F.col("value")), F.lit(0.0)).alias("value_sum"),
        F.count(F.lit(1)).alias("n_obs"),
    )


# --- P1/P2/F2/F5/F8: the Silver flatten / derive projection ---
@_register(
    "silver_flatten_project",
    """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS timestamp,
           strftime(ts, '%Y-%m-%d')          AS date,
           strftime(ts, '%H')                AS hour,
           strftime(ts, '%M')                AS minute,
           user_id,
           event_type,
           value,
           CASE WHEN event_type = 'error' THEN 'quarantine' ELSE 'clean' END AS route
    FROM events
    WHERE value IS NOT NULL
    """,
)
def silver_flatten_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 flatten + F2 strftime derivations + F8 CASE routing + P7 null
    rejection (transform_raw_weather.py:29-58). Pure narrow projection:
    no shuffle, pushed filter, pruned columns."""
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("value").isNotNull()).select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.date_format("ts", "HH").alias("hour"),
        F.date_format("ts", "mm").alias("minute"),
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("quarantine"))
        .otherwise(F.lit("clean"))
        .alias("route"),
    )


# --- P3/P4/P5: pushed-down predicates ---
@_register(
    "filter_pushdown_combo",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_type IN ('click', 'purchase')
      AND user_id = 7
      AND strftime(ts, '%Y-%m-%d %H:%M:%S') >= '2024-01-10 00:00:00'
    """,
)
def filter_pushdown_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 equality + P4 IN-list + P5/F11 string-ordered time predicate
    (fetch_weather.py:93-97; the reference's lexicographic-time trick)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("event_type").isin("click", "purchase"))
        .where(F.col("user_id") == 7)
        .where(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss") >= "2024-01-10 00:00:00"
        )
        .select("event_id", "user_id", "event_type", "value")
    )


# --- ST2/P8: incremental batch-key + no-future guard ---
@_register(
    "incremental_batch_window",
    """
    SELECT event_type,
           count(*) AS n,
           {SQL_SUM_VALUE} AS value_sum
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
      AND ts <  TIMESTAMP '2024-01-16 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1
    """.replace("{SQL_SUM_VALUE}", _sql_sum("value")),
)
def incremental_batch_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2 only-this-interval predicate (transform_raw_weather.py:112-117) +
    ST7 no-future cutoff (fetch_weather.py:73-75), as pushed scan filters."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(
            (F.col("ts") >= F.lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
            & (F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"))
        )
        .where(F.col("ts") <= F.lit("2024-01-20 00:00:00").cast("timestamp_ntz"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("value")).alias("value_sum"),
        )
    )


# --- A3/W1: keep-first dedup ---
@_register(
    "dedup_keep_first",
    """
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id, event_type ORDER BY ts, event_id
        ) AS rn
        FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_keep_first_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/W1 keep-first-per-group (transform_raw_weather.py:92-97):
    deterministic survivor = earliest (ts, event_id)."""
    ev = load_table(spark, sf_dir, "events")
    out = dedupe_keep_first(
        ev, keys=["user_id", "event_type"], order_by=["ts", "event_id"]
    )
    return out.select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "value",
    )


# --- A1/A2/A9: duplicate-group detection with HAVING + collected ids ---
@_register(
    "dup_groups_having",
    """
    SELECT user_id, event_type,
           count(*) AS cnt,
           string_agg(event_id, ',' ORDER BY event_id) AS ids
    FROM events
    GROUP BY 1, 2
    HAVING count(*) > 1
    """,
)
def dup_groups_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 group+push+count → A2 HAVING cnt>1 (transform_raw_weather.py:78-87),
    ids collected in deterministic numeric order (A9-style assembly)."""
    ev = load_table(spark, sf_dir, "events")
    grouped = find_duplicate_groups(ev, keys=["user_id", "event_type"], id_col="event_id")
    return grouped.select(
        "user_id",
        "event_type",
        "cnt",
        F.array_join(
            F.transform(F.col("ids"), lambda x: x.cast("string")), ","
        ).alias("ids"),
    )


# --- J2: anti-join (customers with no orders) ---
@_register(
    "anti_join_unordered_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_unordered_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 incremental anti-join (spark/transform_raw_weather.py:89-91's $nin,
    done right): left_anti, never a collected id list."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")),
        on="c_custkey",
        how="left_anti",
    ).select("c_custkey", "c_name", "c_mktsegment")


# --- J1: broadcast dimension lookup chain ---
@_register(
    "broadcast_dim_join",
    """
    SELECT r.r_name AS region, n.n_name AS nation,
           count(*) AS n_customers,
           {SQL_AVG_BAL} AS acctbal_avg
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """.replace("{SQL_AVG_BAL}", _sql_avg("c.c_acctbal")),
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 broadcast lookup (daily_compile_weather.py:25-30's dict probe):
    both dims hinted broadcast — zero shuffle on the fact side until the
    final (small) aggregation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            _dec_avg(F.col("c_acctbal")).alias("acctbal_avg"),
        )
    )


# --- J4: generated-dimension grid alignment ---
@_register(
    "grid_align_hours",
    """
    WITH grid AS (
        SELECT t.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM events) t
        CROSS JOIN (SELECT CAST(range AS INT) AS h FROM range(0, 24)) g
    ),
    hourly AS (
        SELECT event_type, CAST(strftime(ts, '%H') AS INT) AS h,
               count(*) AS n, {SQL_SUM_VALUE} AS value_sum
        FROM events GROUP BY 1, 2
    )
    SELECT grid.event_type, grid.h AS hour,
           coalesce(hourly.n, 0) AS n,
           coalesce(hourly.value_sum, 0.0) AS value_sum
    FROM grid LEFT JOIN hourly USING (event_type, h)
    """.replace("{SQL_SUM_VALUE}", _sql_sum("value")),
)
def grid_align_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 grid-align left join (daily_compile_weather.py:34-58): generated
    24-slot dimension × observed keys, unmatched slots null-filled. The grid
    side is generated with sequence+explode and broadcast."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("h")
    ).agg(F.count(F.lit(1)).alias("n"), _dec_sum(F.col("value")).alias("value_sum"))
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(1).select(
                    F.explode(F.sequence(F.lit(0), F.lit(23))).alias("h")
                ).select(F.col("h").cast("int").alias("h"))
            )
        )
    )
    return grid.join(hourly, on=["event_type", "h"], how="left").select(
        "event_type",
        F.col("h").alias("hour"),
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("value_sum", F.lit(0.0)).alias("value_sum"),
    )


# --- A6: deterministic mode ---
@_register(
    "dominant_mode",
    """
    SELECT user_id, event_type AS dominant_event
    FROM (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY count(*) DESC, min(ts) ASC, event_type ASC
               ) AS rn
        FROM events
        GROUP BY user_id, event_type
    )
    WHERE rn = 1
    """,
)
def dominant_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 mode with the reference's tie-break (statistics.mode = first value
    reaching max count in input order; daily_compile_weather.py:76):
    (count DESC, first-seen ASC, value ASC). Partial-agg counts, then a
    window over distinct values only."""
    ev = load_table(spark, sf_dir, "events")
    return deterministic_mode(
        ev, keys=["user_id"], value_col="event_type", order_col="ts",
        out_col="dominant_event",
    )


# --- A7/P11/W2: group-level completeness flag ---
@_register(
    "completeness_flag",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date, user_id,
           bool_or(CAST(strftime(ts, '%H') AS INT) = 23) AS full_day,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def completeness_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7/P11 "hour 23 present" flag (daily_compile_weather.py:114-115) as a
    grouped max-of-boolean."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("date"), "user_id"
    ).agg(
        F.max(F.hour("ts") == 23).alias("full_day"),
        F.count(F.lit(1)).alias("n"),
    )


# --- W2 stamped form: windowed flag on every row (distinct from grouped) ---
@_register(
    "window_stamped_flag",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d') AS date,
           max(CAST(strftime(ts, '%H') AS INT) = 23)
               OVER (PARTITION BY strftime(ts, '%Y-%m-%d'), user_id) AS full_day,
           row_number() OVER (
               PARTITION BY strftime(ts, '%Y-%m-%d'), user_id
               ORDER BY ts, event_id
           ) AS seq
    FROM events
    """,
)
def window_stamped_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+W2 together: per-row rank and day-scoped flag stamped on every
    member row (daily_compile_weather.py:114-115,70) — one shuffle, two
    window functions over the same partitioning."""
    ev = load_table(spark, sf_dir, "events")
    date = F.date_format("ts", "yyyy-MM-dd")
    w = Window.partitionBy(date, F.col("user_id"))
    wo = w.orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        date.alias("date"),
        F.max(F.hour("ts") == 23).over(w).alias("full_day"),
        F.row_number().over(wo).alias("seq"),
    )


# --- F9: heat-index polynomial (pure column arithmetic) ---
@_register(
    "heat_index",
    """
    WITH t AS (
        SELECT event_id,
               value % 15.0 + 25.0     AS temp_c,
               (user_id % 60) + 40     AS humidity
        FROM events
    )
    SELECT event_id, round(temp_c, 2) AS temp_c, humidity,
           round((( -42.379
                  + 2.04901523   * (temp_c * 9.0/5.0 + 32.0)
                  + 10.14333127  * humidity
                  - 0.22475541   * (temp_c * 9.0/5.0 + 32.0) * humidity
                  - 6.83783e-3   * (temp_c * 9.0/5.0 + 32.0) * (temp_c * 9.0/5.0 + 32.0)
                  - 5.481717e-2  * humidity * humidity
                  + 1.22874e-3   * (temp_c * 9.0/5.0 + 32.0) * (temp_c * 9.0/5.0 + 32.0) * humidity
                  + 8.5282e-4    * (temp_c * 9.0/5.0 + 32.0) * humidity * humidity
                  - 1.99e-6      * (temp_c * 9.0/5.0 + 32.0) * (temp_c * 9.0/5.0 + 32.0) * humidity * humidity
                  ) - 32.0) * 5.0/9.0, 2) AS heat_index_c
    FROM t
    """,
)
def heat_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 Rothfusz regression (spark/transform_raw_weather.py:45-58) as
    whole-stage-codegen column arithmetic — the reference computes this
    row-at-a-time in a Python RDD map (the anti-pattern, SURVEY §2.9)."""
    ev = load_table(spark, sf_dir, "events")
    temp_c = F.col("value") % 15.0 + 25.0
    humidity = (F.col("user_id") % 60) + 40
    return ev.select(
        "event_id",
        F.round(temp_c, 2).alias("temp_c"),
        humidity.alias("humidity"),
        F.round(heat_index_c(temp_c, humidity.cast("double")), 2).alias(
            "heat_index_c"
        ),
    )


# --- sorts / limits: top-k with total order ---
@_register(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k (SURVEY §2.6 — absent in the reference, table-stakes for an
    engine): TakeOrderedAndProject, never a full sort at scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
        )
    )


# --- union of two source paths (current + history, fetch_weather.py:117,145) ---
@_register(
    "union_two_paths",
    """
    SELECT src, event_type, count(*) AS n
    FROM (
        SELECT 'live' AS src, event_type FROM events
        WHERE CAST(strftime(ts, '%M') AS INT) % 10 = 0
        UNION ALL
        SELECT 'backfill' AS src, event_type FROM events
        WHERE CAST(strftime(ts, '%M') AS INT) % 10 <> 0
    )
    GROUP BY 1, 2
    """,
)
def union_two_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's current/history dual ingest path (SURVEY §2.6) as
    unionByName — live = on-the-10-min-grid rows, backfill = the rest."""
    ev = load_table(spark, sf_dir, "events")
    minute = F.minute("ts")
    live = ev.where(minute % 10 == 0).select(
        F.lit("live").alias("src"), "event_type"
    )
    backfill = ev.where(minute % 10 != 0).select(
        F.lit("backfill").alias("src"), "event_type"
    )
    return live.unionByName(backfill).groupBy("src", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- A9: nested re-assembly (deterministic string form) ---
@_register(
    "nested_reassembly",
    """
    SELECT user_id,
           count(*) AS n,
           string_agg(event_id || ':' || event_type, ';' ORDER BY event_id) AS events_ordered
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
)
def nested_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 collect_list(struct)+array_sort nested assembly
    (daily_compile_weather.py:57,79,127,133), serialized to an
    explicitly-ordered string so the oracle can hash it."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
                    lambda x: F.concat(
                        x.event_id.cast("string"), F.lit(":"), x.event_type
                    ),
                ),
                ";",
            ).alias("events_ordered"),
        )
    )


# --- headline scan+agg benchmark: TPC-H Q1-shaped pricing summary ---
@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           {S_QTY}       AS sum_qty,
           {S_PRICE}     AS sum_base_price,
           {S_DISC}      AS sum_disc_price,
           {A_QTY}       AS avg_qty,
           {A_PRICE}     AS avg_price,
           {A_DISC}      AS avg_disc,
           count(*)      AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
    """.replace("{S_QTY}", _sql_sum("l_quantity"))
    .replace("{S_PRICE}", _sql_sum("l_extendedprice"))
    .replace("{S_DISC}", _sql_sum("l_extendedprice * (1 - l_discount)", 2, 4))
    .replace("{A_QTY}", _sql_avg("l_quantity"))
    .replace("{A_PRICE}", _sql_avg("l_extendedprice"))
    .replace("{A_DISC}", _sql_avg("l_discount", 4)),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical full-scan partial-agg benchmark —
    generalizes A4/A5/A8 to wide aggregate lists. Filter pushed to Parquet;
    5-ish groups → map-side combine does almost all the work."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2, 4).alias(
                "sum_disc_price"
            ),
            _dec_avg(F.col("l_quantity")).alias("avg_qty"),
            _dec_avg(F.col("l_extendedprice")).alias("avg_price"),
            _dec_avg(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- big fact⋈fact join + agg (shuffle-join benchmark) ---
@_register(
    "order_lineitem_join_agg",
    """
    SELECT o.o_orderpriority,
           count(DISTINCT o.o_orderkey) AS n_orders,
           {S_REV} AS revenue
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY 1
    """.replace("{S_REV}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def order_lineitem_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi-join on the natural key: both sides shuffle on
    l_orderkey/o_orderkey (co-partitioned by Catalyst); at 100 TB this is the
    join you bucket both tables on. Filter on orders pushed below the join."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(
            o.where(F.col("o_orderstatus") == "F"),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_orderkey").alias("n_orders"),
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2, 4).alias(
                "revenue"
            ),
        )
    )


# --- ST1/ST6: tumbling 10-minute event-time windows (batch form) ---
@_register(
    "tumbling_window_10min",
    """
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n,
           {SQL_SUM_VALUE} AS value_sum
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY 1, 2
    """.replace("{SQL_SUM_VALUE}", _sql_sum("value")),
)
def tumbling_window_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1/ST6 tumbling 10-min window (the reference's cron micro-batch,
    fetch_weather.py:205) via F.window — identical semantics to the
    Structured Streaming variant in streaming/micro_batch.py."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("value")).alias("value_sum"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "value_sum",
        )
    )


# --- distinct aggregation (engine extension; SURVEY §2.4 notes absence) ---
@_register(
    "distinct_users_per_type",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregate (expand+two-phase under the hood). The
    approximate sibling is approx_distinct_users (rows-only check)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- approximate aggregates: no oracle (algorithm-specific), rows-only ---
@_register("approx_distinct_users")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct + t-digest percentiles — the 100 TB versions of
    count(distinct)/median. No DuckDB oracle: sketch algorithms differ by
    engine (driver records rows-only)."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile_approx("value", [0.5, 0.95, 0.99], 10000)
    # Scalar columns (not an array) so downstream harnesses can canonicalize
    # each value independently.
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx"),
        pct.getItem(0).alias("value_p50"),
        pct.getItem(1).alias("value_p95"),
        pct.getItem(2).alias("value_p99"),
    )


def _kmv_hash(key):
    """The KMV 60-bit md5 hash (':kmv' salt) — ONE implementation for
    the batch query, the streaming maintainer, and their shared oracle
    (which hard-codes the same salt)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(":kmv"))), 1, 15
        ),
        16,
        10,
    ).cast("bigint")


_KMV_K = 64


def _kmv_serve(hashes: DataFrame) -> DataFrame:
    """(event_type, k_used, n_kmv) from distinct (event_type, hv) rows:
    skew-safe bottom-k + the (k−1)·2⁶⁰/h₍ₖ₎ estimate (exact below k).
    Shared by kmv_distinct_users and stream_kmv_users so the twin
    relationship their common oracle asserts cannot drift."""
    from .operators.windows import scalable_topk_per_group

    k = _KMV_K
    bk = scalable_topk_per_group(
        hashes, keys=["event_type"], order_by=["hv"], k=k, salt_by=["hv"]
    )
    sk = bk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_used"),
        F.max("hv").alias("kth"),
    )
    num = F.lit(str((k - 1) * 2**60)).cast("decimal(38,0)")
    est = F.when(F.col("k_used") < k, F.col("k_used")).otherwise(
        floor_div(num, F.col("kth"))
    )
    return sk.select(
        "event_type", "k_used", est.cast("bigint").alias("n_kmv")
    )


@_register(
    "kmv_distinct_users",
    f"""
    WITH h AS (
        SELECT DISTINCT event_type,
               ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':kmv'),
                1, 15))::BIGINT AS hv
        FROM events
    ),
    bk AS (
        SELECT event_type, hv FROM (
            SELECT event_type, hv, row_number() OVER (
                PARTITION BY event_type ORDER BY hv ASC) AS rn
            FROM h
        ) WHERE rn <= 64
    ),
    sk AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS k_used,
               max(hv) AS kth
        FROM bk GROUP BY 1
    ),
    ex AS (
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1
    )
    SELECT sk.event_type, sk.k_used,
           CAST(CASE WHEN sk.k_used < 64 THEN sk.k_used
                ELSE (63 * CAST({2**60} AS HUGEINT)) // sk.kth
           END AS BIGINT) AS n_kmv,
           ex.n_exact
    FROM sk JOIN ex USING (event_type)
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-count sketch (Bar-Yossef et al. 2002) —
    the sketch family's second fully-DETERMINISTIC member after CMS and
    Bloom, so unlike HLL (approx_distinct_users, rows-only by nature)
    the whole build AND estimate have an exact SQL twin: the k=64
    smallest md5-derived 60-bit hashes of the distinct keys summarize
    the set; estimate = (k−1)·2⁶⁰ / h₍ₖ₎ (exact when fewer than k
    distinct). Mergeable (bottom-k of unioned sketches = sketch of the
    union — pinned in pytest) and the basis of theta-sketch set algebra.
    Per-group bottom-k runs through the skew-safe two-phase top-k
    (scalable_topk_per_group: salted local bottom-k, then re-rank the
    ≤ buckets·k survivors — one viral group never funnels its whole
    hash set through one reducer); the sketch is k rows per group at
    ANY cardinality. Reported beside the exact distinct so the
    estimate error is visible in the output."""
    from .operators.windows import scalable_topk_per_group
    ev = load_table(spark, sf_dir, "events")
    h = ev.select("event_type", _kmv_hash(F.col("user_id")).alias("hv")).distinct()
    ex = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return _kmv_serve(h).join(ex, on="event_type").select(
        "event_type", "k_used", "n_kmv", "n_exact"
    )


# Shared DuckDB CTE fragments for the source-overlap family
# (source_shingle_jaccard, source_card_overlap). _SHINGLE_HV_CTES yields
# shv(source, hv) = the distinct 60-bit 5-gram shingle hashes per source;
# _KMV_SKETCH_CTES (expects a pairs(src_a, src_b, ...) CTE already
# defined) yields kmv(src_a, src_b, k_used, k_both) = the bottom-128 KMV
# set-overlap sketch per pair, computed from per-source pre-truncated
# sketches (KMV mergeability — identical to the full-set computation).
_SHINGLE_HV_CTES = f"""toks AS (
        SELECT doc_id, source, {_NORM_TOKENS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id, source,
               CASE WHEN len(t) <= 5 THEN [array_to_string(t, ' ')]
                    ELSE [array_to_string(t[i:i+4], ' ')
                          for i in range(1, len(t) - 3)]
               END AS s
        FROM toks
    ), shv AS (
        SELECT DISTINCT source,
               ('0x' || substr(md5(sg), 1, 15))::BIGINT AS hv
        FROM (SELECT source, unnest(s) AS sg FROM sh)
    )"""

_KMV_SKETCH_CTES = """shk AS (
        SELECT source, hv FROM (
            SELECT source, hv,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY hv ASC) AS rs
            FROM shv)
        WHERE rs <= 128
    ), u AS (
        SELECT p.src_a, p.src_b, s.hv,
               max(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS in_b
        FROM pairs p JOIN shk s
          ON s.source = p.src_a OR s.source = p.src_b
        GROUP BY 1, 2, 3
    ), pu AS (
        SELECT src_a, src_b, hv,
               (in_a = 1 AND in_b = 1) AS in_both,
               row_number() OVER (PARTITION BY src_a, src_b
                                  ORDER BY hv ASC) AS rn
        FROM u
    ), kmv AS (
        SELECT src_a, src_b,
               CAST(count(*) AS BIGINT) AS k_used,
               CAST(sum(CASE WHEN in_both THEN 1 ELSE 0 END) AS BIGINT)
                   AS k_both
        FROM pu WHERE rn <= 128 GROUP BY 1, 2
    )"""


def _source_shingle_hashes(docs: DataFrame) -> DataFrame:
    """Distinct (source, hv): 60-bit md5 hashes of 5-gram shingles per
    source — the shared input of the exact and KMV halves of the
    source-overlap family. md5 (not xxhash64) because the DuckDB twins
    replay the hash order bit-for-bit."""
    from .functions.text import shingles

    return (
        docs.select(
            "source", F.explode(shingles(F.col("text"), 5)).alias("sg")
        )
        .select(
            "source",
            F.conv(F.substring(F.md5("sg"), 1, 15), 16, 10)
            .cast("bigint")
            .alias("hv"),
        )
        .distinct()
    )


def _kmv_sketch_pairs(shv: DataFrame, pkeys: DataFrame) -> DataFrame:
    """Per-pair KMV set-overlap sketch (src_a, src_b, k_used, k_both)
    from per-source bottom-128 sketches.

    KMV mergeability (round-5 verdict item 1): bottom-k(A∪B) ⊆
    bottom-k(A) ∪ bottom-k(B), and any survivor of bottom-k(A∪B) that
    lies in A has rank ≤ k within A too — so each source is
    pre-truncated to its OWN bottom-128 (skew-safe two-phase top-k, one
    pass over S source groups) BEFORE the pair fan-out. The sketch path
    is ≤ S·128 rows total: the pair union is ≤ 256 rows per pair and
    the per-pair re-rank window sorts sketches, never the full |A∪B|
    union. Bit-identical to the full-set computation; the DuckDB twin
    (_KMV_SKETCH_CTES) mirrors the truncation. ``pkeys`` carries the
    (src_a, src_b) pair keys (S² rows — broadcast)."""
    from .operators.windows import scalable_topk_per_group

    from .planmode import checkpoint

    # shk (S·128 rows) feeds BOTH pair-membership joins below: without a
    # barrier the whole shv + two-phase top-k pipeline runs twice
    # (optimization round 8)
    shk = checkpoint(
        scalable_topk_per_group(
            shv, ["source"], [F.col("hv").asc()], 128, salt_by=["hv"]
        ).drop("rnk")
    )
    # pair membership via two broadcast EQUI-joins (never an
    # OR-predicate nested loop over the hash universe): each side of a
    # pair contributes its sketch hashes tagged, then one (pair, hv)
    # agg dedupes and sets the both-flag
    ua = shk.join(
        F.broadcast(pkeys), shk["source"] == F.col("src_a")
    ).select(
        "src_a", "src_b", "hv",
        F.lit(1).alias("__a"), F.lit(0).alias("__b"),
    )
    ub = shk.join(
        F.broadcast(pkeys), shk["source"] == F.col("src_b")
    ).select(
        "src_a", "src_b", "hv",
        F.lit(0).alias("__a"), F.lit(1).alias("__b"),
    )
    u = (
        ua.unionByName(ub)
        .groupBy("src_a", "src_b", "hv")
        .agg(F.max("__a").alias("__a"), F.max("__b").alias("__b"))
    )
    w = Window.partitionBy("src_a", "src_b").orderBy(F.col("hv").asc())
    return (
        u.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 128)
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_used"),
            F.sum(
                ((F.col("__a") == 1) & (F.col("__b") == 1)).cast("int")
            )
            .cast("bigint")
            .alias("k_both"),
        )
    )


@_register(
    "source_shingle_jaccard",
    f"""
    WITH {_SHINGLE_HV_CTES}, sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM shv GROUP BY 1
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b,
               a.n AS n_a, b.n AS n_b
        FROM sizes a JOIN sizes b ON a.source < b.source
    ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM shv a JOIN shv b
          ON a.hv = b.hv AND a.source < b.source
        GROUP BY 1, 2
    ), {_KMV_SKETCH_CTES}
    SELECT p.src_a, p.src_b, p.n_a, p.n_b,
           coalesce(i.n_inter, 0) AS n_inter,
           CAST(coalesce(i.n_inter, 0) * 1000000
                // (p.n_a + p.n_b - coalesce(i.n_inter, 0)) AS BIGINT)
               AS jaccard_ppm,
           k.k_used,
           CAST(k.k_both * 1000000 // k.k_used AS BIGINT)
               AS jaccard_kmv_ppm
    FROM pairs p
    LEFT JOIN inter i ON i.src_a = p.src_a AND i.src_b = p.src_b
    JOIN kmv k ON k.src_a = p.src_a AND k.src_b = p.src_b
    """,
)
def source_shingle_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE overlap diagnostic — the data-card question "which
    of my sources duplicate each other" that decides dedup order and
    mixture weights: exact 5-gram-shingle-set Jaccard per source pair
    (integer ppm, one equi-join on the 60-bit shingle hash) NEXT TO its
    bottom-k sketch estimate (|bottom₁₂₈(A∪B) ∩ A ∩ B| / 128 — the KMV
    set-similarity estimator, deterministic md5 order so the oracle
    replays it) — the query certifies the estimator against the truth
    it approximates, per pair, in one output. At 100 TB the exact
    intersection is the heavy half (shuffle on shingle hashes); the
    sketch column is what you keep when sources grow past that —
    per-source bottom-k sketches are k rows each and merge like any
    KMV."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    # shv feeds FOUR consumers (sizes, both sides of the exact
    # intersection join, the KMV sketch): materialize the distinct
    # (source, hv) frame once — at full scale this is the job's heavy
    # shared input and recomputing the shingle+md5+distinct per consumer
    # quadruples the corpus work (optimization round 8). reliable=True
    # (optimization round 9): this frame is CORPUS-sized — on a
    # 1000-executor run an unreplicated localCheckpoint block lost with
    # its executor kills the job with no lineage to rebuild from;
    # DISK_ONLY persist keeps lineage and stays out of executor heap.
    from .planmode import checkpoint

    shv = checkpoint(_source_shingle_hashes(docs), reliable=True)
    sizes = shv.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    a = sizes.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    b = sizes.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    inter = (
        shv.alias("x")
        .join(shv.alias("y"), on="hv")
        .where(F.col("x.source") < F.col("y.source"))
        .groupBy(
            F.col("x.source").alias("src_a"),
            F.col("y.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    kmv = _kmv_sketch_pairs(shv, pairs.select("src_a", "src_b"))
    ni = F.coalesce(F.col("n_inter"), F.lit(0).cast("bigint"))
    return (
        pairs.join(inter, on=["src_a", "src_b"], how="left")
        .join(kmv, on=["src_a", "src_b"])
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            ni.alias("n_inter"),
            floor_div(
                ni * F.lit(1000000),
                F.col("n_a") + F.col("n_b") - ni,
            ).alias("jaccard_ppm"),
            "k_used",
            floor_div(
                F.col("k_both") * F.lit(1000000), F.col("k_used")
            ).alias("jaccard_kmv_ppm"),
        )
    )


@_register("stream_kmv_users")
def stream_kmv_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING KMV maintenance with a full oracle (the bottom-k
    sibling of ⊕ stream_cms_tokens): event micro-batches land as json;
    a real Structured Streaming query folds each batch's per-group
    bottom-64 candidate hashes into a snapshot-persisted sketch state,
    exactly-once per batch_id (idempotent_view_commit ledger). KMV is
    insert-only (a deletion could evict a surviving minimum — honest
    scope note, unlike the signed-counter CMS); merging bottom-k sets
    then re-truncating IS the sketch's merge operator, so the final
    serve — bottom-64 of the state — is a deterministic pure function
    of the inserted keys regardless of batching, and the SAME DuckDB
    twin as kmv_distinct_users certifies the whole streamed chain.
    State is bounded at 64·batches rows per group between compactions
    (each commit contributes at most its own bottom-64)."""
    import glob
    import os
    import tempfile

    from .ext.matview import idempotent_view_commit
    from .operators.windows import scalable_topk_per_group
    from .snapshots import snapshot_read

    k = _KMV_K
    tmp = tempfile.mkdtemp(prefix="skmv_q_")
    landing, view_tbl, ckpt = f"{tmp}/in", f"{tmp}/view", f"{tmp}/ckpt"
    os.makedirs(landing)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    )
    # covering split: pmod + coalesce so negative and NULL user_ids
    # land in exactly one batch (plain % returns NULL/negative
    # remainders and would silently drop rows the shared oracle counts)
    even = F.coalesce(F.pmod(F.col("user_id"), F.lit(2)), F.lit(0)) == 0
    b1 = ev.where(even)
    b2 = ev.where(~even)
    for i, b in enumerate([b1, b2]):
        d = f"{tmp}/stage{i}"
        b.withColumn("op", F.lit("I")).write.json(d)
        for j, part in enumerate(sorted(glob.glob(f"{d}/part-*.json"))):
            os.rename(part, f"{landing}/b{i}_{j:04d}.json")

    def commit(batch: DataFrame, batch_id: int) -> None:
        h = batch.select(
            "op",
            "event_type",
            _kmv_hash(F.col("user_id")).alias("hv"),
        ).dropDuplicates(["event_type", "hv"])
        bk = scalable_topk_per_group(
            h, keys=["event_type"], order_by=["hv"], k=k, salt_by=["hv"]
        ).drop("rnk")
        idempotent_view_commit(
            spark, view_tbl, bk, batch_id, ["event_type", "hv"],
            measures={"c": F.lit(1)},
        )

    q = (
        spark.readStream.schema(
            "event_type STRING, user_id LONG, op STRING"
        )
        .json(landing)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_kmv_users: stream did not finish within 300s — "
            "refusing to serve a partial sketch"
        )
    state = snapshot_read(spark, view_tbl).select("event_type", "hv")
    ex = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return _kmv_serve(state).join(ex, on="event_type").select(
        "event_type", "k_used", "n_kmv", "n_exact"
    )


ORACLE_SQL["stream_kmv_users"] = ORACLE_SQL["kmv_distinct_users"]


@_register(
    "token_budget_mix",
    """
    WITH d AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
               md5(CAST(doc_id AS VARCHAR) || ':mix') AS hk
        FROM documents
    ),
    run AS (
        SELECT source, doc_id, n_toks,
               COALESCE(sum(n_toks) OVER (
                   PARTITION BY source ORDER BY hk, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS before_toks
        FROM d
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_toks) AS BIGINT) AS tokens_kept,
           CAST(max(before_toks + n_toks) AS BIGINT) AS tokens_at_stop
    FROM run WHERE before_toks < 300
    GROUP BY 1
    """,
)
def token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix builder: take documents per source, in a
    deterministic salted-hash order (append-stable uniform sample
    order, like every sampling op here), until the source's TOKEN
    budget is met — the "give me N tokens per source" step that turns
    mixture weights into an actual training set. A doc is kept iff the
    tokens BEFORE it are under budget, so the boundary doc is included
    (standard greedy fill; tokens_at_stop reports the overshoot).

    Scale: the per-source running sum does NOT use one window over the
    whole source (a 10-TB source would funnel through one reducer) —
    the salted hash is uniform, so its first byte is a pre-ordered
    256-way range bucket WITHIN each source: local cumsums run per
    (source, bucket) and bucket offsets are a 256-rows-per-source
    window — the `_range_bucketed` trick with the bucket id taken from
    the sort key itself, zero quantile sampling. The oracle computes
    the same running sum with a plain window (engines agree on totals,
    not on plan shape)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    budget = 300
    d = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))).alias(
            "hk"
        ),
    )
    # 256-way range bucket WITHIN source, derived from the sort key
    d = d.withColumn("__b", F.substring("hk", 1, 2))
    w_local = (
        Window.partitionBy("source", "__b")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("__run", F.sum("n_toks").over(w_local))
    bsums = d.groupBy("source", "__b").agg(F.sum("n_toks").alias("__bs"))
    w_off = Window.partitionBy("source").orderBy("__b")
    offs = bsums.withColumn(
        "__off", F.coalesce(F.sum("__bs").over(w_off) - F.col("__bs"), F.lit(0))
    ).select("source", "__b", "__off")
    run = local.join(offs, on=["source", "__b"]).withColumn(
        "before_toks", F.col("__run") - F.col("n_toks") + F.col("__off")
    )
    kept = run.where(F.col("before_toks") < budget)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_kept"),
        F.sum("n_toks").cast("bigint").alias("tokens_kept"),
        F.max(F.col("before_toks") + F.col("n_toks"))
        .cast("bigint")
        .alias("tokens_at_stop"),
    )


# Shared DuckDB fragments for the data-card family (source_quality_card,
# source_card_overlap): _CARD_CTES computes the per-doc quality/dup/lang
# staging, _CARD_SELECT rolls it up to the per-source card row.
_CARD_CTES = f"""d AS (
        SELECT source, doc_id, lang, text,
               string_split(text, ' ') AS w,
               md5(text) AS h
        FROM documents
    ),
    m AS (
        SELECT source, doc_id, lang, h,
               CAST(len(w) AS BIGINT) AS n_words,
               CAST(length(array_to_string(w, '')) AS BIGINT) AS sum_len,
               CAST(len(list_filter(w, x -> regexp_matches(x, '\\p{{L}}')))
                    AS BIGINT) AS n_alpha,
               CAST(len(list_filter(w, x -> x LIKE '%#%' OR x LIKE '%...%'))
                    AS BIGINT) AS n_symbol
        FROM d
    ),
    g AS (
        SELECT source, doc_id, lang, h, n_words,
               CASE WHEN n_words BETWEEN 50 AND 100000
                     AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                     AND n_symbol * 10 <= n_words
                     AND n_alpha * 10 >= n_words * 8
                    THEN 1 ELSE 0 END AS keep
        FROM m
    ),
    dup AS (
        SELECT source, doc_id,
               CASE WHEN count(*) OVER (PARTITION BY source, h) > 1
                    THEN 1 ELSE 0 END AS is_dup
        FROM d
    ),
    lm AS (
        SELECT source, lang, count(*) AS c FROM d GROUP BY 1, 2
    ),
    dom AS (
        SELECT source, lang AS dominant_lang FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source ORDER BY c DESC, lang ASC) AS rn
            FROM lm
        ) WHERE rn = 1
    )"""

_CARD_SELECT = f"""SELECT g.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(g.n_words) AS BIGINT) AS n_tokens,
           CAST({_sql_halfup('sum(g.n_words)', 'count(*)')} AS BIGINT)
               AS mean_tokens,
           CAST(sum(g.keep) * 1000000 // count(*) AS BIGINT)
               AS gopher_keep_ppm,
           CAST(sum(dup.is_dup) * 1000000 // count(*) AS BIGINT)
               AS dup_ppm,
           CAST(count(DISTINCT g.lang) AS BIGINT) AS n_langs,
           max(dom.dominant_lang) AS dominant_lang
    FROM g
    JOIN dup ON dup.source = g.source AND dup.doc_id = g.doc_id
    JOIN dom ON dom.source = g.source
    GROUP BY 1"""


def _gopher_measures(docs: DataFrame) -> DataFrame:
    """Per-doc Gopher rule staging (the Spark twin of _CARD_CTES's
    ``m``): word/char counts, Unicode-alpha and symbol-token counts,
    text hash — shared by the data-card family and the perceptron
    trainer's rule label."""
    w = F.split("text", " ")
    return docs.select(
        "source",
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        F.size(w).cast("bigint").alias("n_words"),
        F.length(F.array_join(w, "")).cast("bigint").alias("sum_len"),
        F.size(F.filter(w, lambda x: x.rlike(r"\p{L}")))
        .cast("bigint")
        .alias("n_alpha"),
        F.size(
            F.filter(w, lambda x: x.contains("#") | x.contains("..."))
        )
        .cast("bigint")
        .alias("n_symbol"),
    )


def _gopher_keep() -> Column:
    """The full Gopher keep conjunction over _gopher_measures columns
    (certified by source_quality_card / gopher_rules_docs). A function,
    not a module constant: Column construction needs a live session."""
    return (
        F.col("n_words").between(50, 100000)
        & (F.col("sum_len") >= 3 * F.col("n_words"))
        & (F.col("sum_len") <= 10 * F.col("n_words"))
        & (F.col("n_symbol") * 10 <= F.col("n_words"))
        & (F.col("n_alpha") * 10 >= F.col("n_words") * 8)
    )


def _quality_card_frame(docs: DataFrame) -> DataFrame:
    """Spark twin of _CARD_CTES + _CARD_SELECT: per-source volume,
    exact mean length, full Gopher keep-rate, exact-dup rate, language
    mix — one scan shape, every ratio exact integer ppm. Shared by
    source_quality_card and source_card_overlap."""
    m = _gopher_measures(docs)
    keep = _gopher_keep().cast("int")
    is_dup = (
        F.count(F.lit(1)).over(Window.partitionBy("source", "h")) > 1
    ).cast("int")
    base = m.withColumn("keep", keep).withColumn("is_dup", is_dup)
    lm = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    wd = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("lang").asc()
    )
    dom = (
        lm.withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("dominant_lang"))
    )
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_tokens"),
            half_up_div(F.sum("n_words"), F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_tokens"),
            floor_div(
                F.sum("keep") * F.lit(1000000), F.count(F.lit(1))
            ).alias("gopher_keep_ppm"),
            floor_div(
                F.sum("is_dup") * F.lit(1000000), F.count(F.lit(1))
            ).alias("dup_ppm"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .join(dom, on="source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "mean_tokens",
            "gopher_keep_ppm",
            "dup_ppm",
            "n_langs",
            "dominant_lang",
        )
    )


@_register(
    "source_quality_card",
    f"""
    WITH {_CARD_CTES}
    {_CARD_SELECT}
    """,
)
def source_quality_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-SOURCE data card a curation run publishes before
    choosing mixture weights: document/token volume, exact half-up mean
    length, Gopher keep-rate (the full rule conjunction, Unicode alpha
    class), within-source exact-duplicate rate, language count and
    dominant language (deterministic tie-break) — one scan-shaped
    query, every ratio in exact integer ppm. Composes rule sets that
    are individually certified (gopher_rules_docs, dedup_exact_docs,
    lang stats) into the summary REAL decisions read; the oracle
    replays the composition. 100 TB: one shuffle on (source, text-hash)
    for the dup flag, one on source for the rollup; everything else is
    scan-level column math."""
    return _quality_card_frame(
        spread(load_table(spark, sf_dir, "documents"))
    )


@_register(
    "source_card_overlap",
    f"""
    WITH {_CARD_CTES},
    card AS (
    {_CARD_SELECT}
    ), {_SHINGLE_HV_CTES}, srcs AS (
        SELECT DISTINCT source FROM shv
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM srcs a JOIN srcs b ON a.source < b.source
    ), {_KMV_SKETCH_CTES}, kppm AS (
        SELECT src_a, src_b,
               CAST(k_both * 1000000 // k_used AS BIGINT) AS kmv_ppm
        FROM kmv
    ), bidir AS (
        SELECT src_a AS source, src_b AS partner, kmv_ppm FROM kppm
        UNION ALL
        SELECT src_b AS source, src_a AS partner, kmv_ppm FROM kppm
    ), best AS (
        SELECT source, partner, kmv_ppm FROM (
            SELECT *, row_number() OVER (
                PARTITION BY source
                ORDER BY kmv_ppm DESC, partner ASC) AS rn
            FROM bidir
        ) WHERE rn = 1
    )
    SELECT card.*, best.partner AS top_overlap_src,
           best.kmv_ppm AS top_overlap_kmv_ppm
    FROM card LEFT JOIN best ON best.source = card.source
    """,
)
def source_card_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE unified per-source data card (round-5 verdict item 5): the
    quality-card row (volume, exact mean length, Gopher keep-rate,
    exact-dup rate, language mix — _quality_card_frame) EXTENDED with
    the cross-source overlap verdict a mixture decision needs: which
    OTHER source this one overlaps most (top_overlap_src) and the KMV
    bottom-128 sketch estimate of that shingle-set Jaccard in ppm
    (top_overlap_kmv_ppm). One certified query now answers
    volume/quality/dup/language/overlap — the table a real curator
    reads before setting mixture weights; source_quality_card and
    source_shingle_jaccard stay registered unchanged for
    round-over-round comparability.

    100 TB: the card half is scan-shaped (one shuffle on (source, h),
    one on source); the overlap half is SKETCH-sized end to end —
    per-source bottom-128 KMV sketches (_kmv_sketch_pairs, ≤ S·128
    rows) fanned out over S² broadcast pair keys; no full shingle-set
    pair join anywhere (that exact diagnostic lives, clearly labelled,
    in source_shingle_jaccard)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    card = _quality_card_frame(docs)
    # shv feeds the source-pair key grid AND the sketch; materialize it
    # once (optimization round 8); reliable=True because the frame is
    # corpus-sized (optimization round 9 — lineage kept + DISK_ONLY, see
    # source_shingle_jaccard)
    from .planmode import checkpoint

    shv = checkpoint(_source_shingle_hashes(docs), reliable=True)
    srcs = shv.select("source").distinct()
    pkeys = srcs.select(F.col("source").alias("src_a")).join(
        srcs.select(F.col("source").alias("src_b")),
        F.col("src_a") < F.col("src_b"),
    )
    # kppm (S² rows) feeds both directions of the bidir union below:
    # materialize once so the sketch pipeline runs once
    kppm = checkpoint(
        _kmv_sketch_pairs(shv, pkeys).select(
            "src_a",
            "src_b",
            floor_div(F.col("k_both") * F.lit(1000000), F.col("k_used"))
            .alias("kmv_ppm"),
        )
    )
    bidir = kppm.select(
        F.col("src_a").alias("source"),
        F.col("src_b").alias("partner"),
        "kmv_ppm",
    ).unionByName(
        kppm.select(
            F.col("src_b").alias("source"),
            F.col("src_a").alias("partner"),
            "kmv_ppm",
        )
    )
    wb = Window.partitionBy("source").orderBy(
        F.col("kmv_ppm").desc(), F.col("partner").asc()
    )
    best = (
        bidir.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select(
            "source",
            F.col("partner").alias("top_overlap_src"),
            F.col("kmv_ppm").alias("top_overlap_kmv_ppm"),
        )
    )
    # LEFT join: a source with no shingle pair (e.g. all-short docs at
    # some corpus shape) keeps its card row with a NULL partner — the
    # unified card must never silently lose sources (review finding)
    return card.join(best, on="source", how="left")


# =========================================================================
# North-star extensions: dedup / similarity / text analysis
# =========================================================================

@_register(
    "dedup_exact_docs",
    """
    SELECT doc_id, lang, source, n_chars
    FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    )
    WHERE rn = 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup, keep lowest doc_id — md5 shuffle key so full text
    never shuffles (ext/dedup_text.py tier 1)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hashed = docs.withColumn("__h", F.md5("text"))
    return dedupe_keep_first(hashed, ["__h"], order_by=["doc_id"]).select(
        "doc_id", "lang", "source", "n_chars"
    )


@_register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           md5(lower(trim(text))) AS fingerprint,
           substr(md5(lower(trim(text))), 1, 8) AS bucket
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of case/whitespace-normalized text) +
    32-bit bucket prefix — cross-engine bit-identical."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return docs.select(
        "doc_id", fp.alias("fingerprint"), F.substring(fp, 1, 8).alias("bucket")
    )


@_register(
    "text_quality",
    """
    WITH toks AS (
        SELECT doc_id, lang, n_chars,
               list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(lower(trim(text)),
                       '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'),
                   ' '), t -> t <> '') AS t
        FROM documents
    )
    SELECT doc_id, lang, n_chars,
           len(t) AS n_tokens,
           CASE WHEN len(t) > 0 THEN
               round(len(list_filter(t, x -> x IN ('the','and','of','to','is')))
                     / CAST(len(t) AS DOUBLE), 4)
           ELSE 0.0 END AS stopword_ratio
    FROM toks
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: token count + stopword ratio (functions/text.py) —
    all regex/higher-order JVM functions, no UDF."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        "lang",
        "n_chars",
        token_count_ws(F.col("text")).cast("bigint").alias("n_tokens"),
        F.round(stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
    )


@_register(
    "token_count_stats",
    """
    WITH w AS (
        SELECT source,
               list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')
                   AS words
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(len(words)) AS BIGINT) AS total_ws_tokens,
           CAST(sum(CAST(list_sum(list_transform(words,
                w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT)) AS BIGINT)
               AS total_bpe_ish_tokens
    FROM w
    GROUP BY source
    """,
)
def token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (whitespace + BPE-ish ceil(len/4) subword
    estimate) aggregated per source — the 'how many training tokens do I
    have' query."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    words = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
    return (
        docs.select(
            "source",
            F.size(words).alias("ws"),
            token_count_bpe_ish(F.col("text")).alias("bpe"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").cast("bigint").alias("total_ws_tokens"),
            F.sum("bpe").cast("bigint").alias("total_bpe_ish_tokens"),
        )
    )


def _lang_hits_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        "len(list_filter(t, x -> x IN (" + markers + ")))"
    )


@_register(
    "lang_id_heuristic",
    f"""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(lower(trim(text)),
                       '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'), '\\s+', ' ', 'g'),
                   ' '), t -> t <> '') AS t
        FROM documents
    ),
    hits AS (
        SELECT doc_id, lang,
               {_lang_hits_sql('en')} AS h_en,
               {_lang_hits_sql('es')} AS h_es,
               {_lang_hits_sql('fr')} AS h_fr,
               {_lang_hits_sql('de')} AS h_de,
               {_lang_hits_sql('zh')} AS h_zh
        FROM toks
    )
    SELECT doc_id, lang,
           CASE
             WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'unknown'
             WHEN h_de >= greatest(h_en, h_es, h_fr, h_zh) THEN 'de'
             WHEN h_en >= greatest(h_es, h_fr, h_zh) THEN 'en'
             WHEN h_es >= greatest(h_fr, h_zh) THEN 'es'
             WHEN h_fr >= h_zh THEN 'fr'
             ELSE 'zh'
           END AS lang_pred
    FROM hits
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/function-word language-ID heuristic: per-language marker hit
    counts → argmax with deterministic alphabetical tie-break."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    hits = {
        lang: marker_hits(F.col("text"), markers)
        for lang, markers in LANG_MARKERS.items()
    }
    h = docs.select("doc_id", "lang", *[hits[L].alias(f"h_{L}") for L in hits])
    g = F.greatest(*[F.col(f"h_{L}") for L in LANG_MARKERS])
    pred = (
        F.when(g == 0, F.lit("unknown"))
        .when(F.col("h_de") >= F.greatest("h_en", "h_es", "h_fr", "h_zh"), F.lit("de"))
        .when(F.col("h_en") >= F.greatest("h_es", "h_fr", "h_zh"), F.lit("en"))
        .when(F.col("h_es") >= F.greatest("h_fr", "h_zh"), F.lit("es"))
        .when(F.col("h_fr") >= F.col("h_zh"), F.lit("fr"))
        .otherwise(F.lit("zh"))
    )
    return h.select("doc_id", "lang", pred.alias("lang_pred"))


@_register(
    "ann_cosine_topk",
    """
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
        SELECT q.query_id, e.vec_id,
               round(
                 list_sum(list_transform(range(1, 65),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))
               , 6) AS cosine
        FROM embeddings e CROSS JOIN q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine, rank
    FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM scored
    )
    WHERE rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (ext/similarity.py): broadcast query side,
    one streaming pass over the corpus, JVM-side zip_with dot product,
    per-query window top-k with total-order tie-break."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return brute_force_topk(emb, queries, k=10)


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine over two 64-dim list expressions (same sequential
    double accumulation as functions/vectors.py::cosine_similarity)."""
    return f"round({_cos_raw_sql(a, b)}, 6)"


# Per-corpus persisted-IVF index memo for the registry serving query:
# deterministic build (fixed centroids, immutable corpus) makes the cached
# index identical to a rebuild.
_IVF_INDEX_MEMO: dict[str, str] = {}


def _md5_seed_centroids(emb, k: int = 16) -> list[tuple[int, list[float]]]:
    """The fixed-centroid IVF seed selection: the ``k`` corpus vectors
    with smallest md5(vec_id) (DuckDB-reproducible), collected via ONE
    TakeOrdered of k×dim cells — O(k) at any corpus size. In plan-only
    mode returns placeholder centroids instead (the model is a broadcast
    k×dim literal table either way; no job runs)."""
    from .planmode import is_plan_only

    if is_plan_only():
        return [
            (i, [1.0 if j == i % 64 else 0.0 for j in range(64)])
            for i in range(k)
        ]
    return [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding")
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(k)
        .collect()
    ]


def _cos_raw_sql(a: str, b: str) -> str:
    """Unrounded DuckDB cosine — for mirroring engine paths that order by
    the RAW similarity (ext/similarity.py::_assign_nearest and the
    indexed-probe window), where both engines run the identical
    sequential double fold so the doubles are bit-equal."""
    def s(x, y):
        return (
            f"list_sum(list_transform(range(1, 65), i -> "
            f"CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))"
        )

    return f"{s(a, b)} / (sqrt({s(a, a)}) * sqrt({s(b, b)}))"


@_register(
    "ivf_fixed_centroids_topk",
    f"""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), a0 AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_cos_sql('e.embedding', 'c.cv')} AS sim
        FROM embeddings e CROSS JOIN c
    ), assigned AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM a0
        ) WHERE rn = 1
    ), q0 AS (
        SELECT e.vec_id AS query_id, e.embedding AS qv, c.cid,
               {_cos_sql('e.embedding', 'c.cv')} AS sim
        FROM embeddings e CROSS JOIN c
        WHERE e.vec_id < 5
    ), probes AS (
        SELECT query_id, qv, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, cid ASC) AS rn
            FROM q0
        ) WHERE rn <= 3
    ), cand AS (
        SELECT p.query_id, a.vec_id,
               {_cos_sql('a.embedding', 'p.qv')} AS cosine
        FROM assigned a JOIN probes p ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM cand
    ) WHERE rank <= 10
    """,
)
def ivf_fixed_centroids_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k with FIXED deterministic centroids — the
    same inverted-list plan shape as the trained variant (assign → probe
    top-3 lists → exact cosine on candidates), but with no
    float-iterative training, so the ENTIRE pipeline — assignment argmax
    included — is reproduced by the DuckDB oracle (sequential double
    accumulation, ties broken by lowest centroid/vector id, sims rounded
    to 6 dp at each ranking). Centroids are the 16 corpus vectors with
    smallest md5(vec_id) (the same smallest-hash seeding pattern as
    ext/similarity.py::train_ivf_centroids, with md5 instead of xxhash64
    so DuckDB reproduces the selection) — a FIXED k at any corpus size:
    the collect is one TakeOrdered of k×dim cells, never a
    corpus-fraction driver pull (round-3 verdict item 2). The trained
    sibling is ivf_trained_exact_topk (exact fixed-point Lloyd, full
    oracle); this query pins the IVF probe/prune machinery
    cross-engine."""
    from .ext.similarity import _scored_against_centroids
    from .functions.vectors import cosine_similarity

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = _md5_seed_centroids(emb)
    scored = _scored_against_centroids(emb, cents, "embedding")
    sim6 = F.round(F.col("__sim"), 6)
    packed = F.max(
        F.struct(
            sim6.alias("s"),
            (-F.col("cid")).alias("nc"),
            F.col("embedding").alias("v"),
        )
    ).alias("b")
    assigned = (
        scored.groupBy("vec_id")
        .agg(packed)
        .select(
            "vec_id",
            F.col("b.v").alias("__cvec"),
            (-F.col("b.nc")).cast("int").alias("cid"),
        )
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.round(F.col("__sim"), 6).desc(), F.col("cid").asc()
    )
    probes = (
        _scored_against_centroids(queries, cents, "embedding")
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= 3)
        .select("query_id", F.col("embedding").alias("__qvec"), "cid")
    )
    cand = assigned.join(F.broadcast(probes), on="cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored2 = cand.withColumn(
        "cosine",
        F.round(cosine_similarity(F.col("__cvec"), F.col("__qvec")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored2.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cosine", "rank")
    )


_IVF_EXACT_DIST = (
    "list_sum(list_transform(range(1, 65), "
    "i -> ({a}[i] - {c}[i]) * ({a}[i] - {c}[i])))"
)


def _ivf_dist_sql(a: str, c: str) -> str:
    """Exact integer squared Euclidean distance between two micro-unit
    bigint lists — the assignment metric of the fixed-point Lloyd twin
    (no float compares anywhere, so argmin order is engine-independent)."""
    return _IVF_EXACT_DIST.format(a=a, c=c)


def _ivf_lloyd_round_cte(r: int) -> str:
    """One unrolled exact-Lloyd round: assignment under c{r-1} (argmin
    integer distance, ties → lowest cid), per-(cid, dim) half-up mean of
    the micro-unit coordinates, array rebuild; a cluster no vector chose
    keeps its previous centroid (standard Lloyd fix, mirrored in
    ext/similarity.py::train_ivf_centroids_exact)."""
    return f"""
    a{r} AS (
        SELECT vec_id, qv, cid FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       {_ivf_dist_sql('q.qv', 'c.cv')} ASC, c.cid ASC
                   ) AS rn
            FROM q CROSS JOIN c{r - 1} c
        ) WHERE rn = 1
    ),
    m{r} AS (
        SELECT cid, i,
               CAST({_sql_halfup('sum(qv[i])', 'count(*)')} AS BIGINT) AS val
        FROM a{r}, (SELECT unnest(range(1, 65)) AS i) d
        GROUP BY 1, 2
    ),
    c{r} AS (
        SELECT p.cid, coalesce(n.cv, p.cv) AS cv
        FROM c{r - 1} p LEFT JOIN (
            SELECT cid, list(val ORDER BY i) AS cv FROM m{r} GROUP BY cid
        ) n USING (cid)
    )"""


_IVF_EXACT_ITERS = 2

_EXACT_CENTROID_MEMO: dict = {}


@_register(
    "ivf_trained_exact_topk",
    f"""
    WITH q AS (
        SELECT vec_id, embedding,
               list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               ) AS qv
        FROM embeddings
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS INT) - 1 AS cid,
               qv AS cv
        FROM (SELECT vec_id, qv FROM q
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ),{','.join(_ivf_lloyd_round_cte(r) for r in range(1, _IVF_EXACT_ITERS + 1))},
    fa AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT q.vec_id, q.embedding, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       {_ivf_dist_sql('q.qv', 'c.cv')} ASC, c.cid ASC
                   ) AS rn
            FROM q CROSS JOIN c{_IVF_EXACT_ITERS} c
        ) WHERE rn = 1
    ),
    pq AS (
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       {_ivf_dist_sql('q.qv', 'c.cv')} ASC, c.cid ASC
                   ) AS rn
            FROM q CROSS JOIN c{_IVF_EXACT_ITERS} c
            WHERE q.vec_id < 5
        ) WHERE rn <= 3
    ),
    cand AS (
        SELECT p.query_id, a.vec_id,
               {_cos_sql('a.embedding', 'qe.embedding')} AS cosine
        FROM fa a JOIN pq p ON a.cid = p.cid
        JOIN embeddings qe ON qe.vec_id = p.query_id
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM cand
    ) WHERE rank <= 10
    """,
)
def ivf_trained_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-quantizer IVF top-k with the ENTIRE training loop in the
    oracle — the round-5 verdict's item 1, clearing the last clearable
    rows-only ANN row. Lloyd's k-means runs in exact fixed point
    (ext/similarity.py::train_ivf_centroids_exact): micro-unit bigint
    coordinates, argmin integer squared-Euclidean assignment with
    lowest-cid ties, half-up integer means, empty clusters keeping their
    previous centroid — so the DuckDB twin unrolls the identical
    {_IVF_EXACT_ITERS} rounds digit-for-digit (the pagerank_exact_int /
    pca_power_iteration recipe). Serving is the standard IVF shape:
    final assignment → inverted lists, queries probe their 3 nearest
    lists, exact 6-dp cosine ranks candidates, top-10 per query.

    The float-Lloyd `train_ivf_centroids` remains the production path
    (recall-pinned in tests/test_similarity.py); this query certifies
    the same algorithm cross-engine, the way pagerank_exact_int twins
    the float PageRank. Centroids are memoized per corpus snapshot —
    deterministic training makes cache ≡ retrain."""
    from .ext.similarity import (
        assign_nearest_int,
        _scored_against_int_centroids,
        quantize_micro_units,
        train_ivf_centroids_exact,
    )
    from .functions.vectors import cosine_similarity
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    qemb = emb.select(
        "vec_id",
        "embedding",
        quantize_micro_units(F.col("embedding")).alias("__q"),
    )
    if is_plan_only():
        cents = train_ivf_centroids_exact(emb, n_clusters=16)
    else:
        key = (sf_dir, 16, _IVF_EXACT_ITERS)
        if key not in _EXACT_CENTROID_MEMO:
            _EXACT_CENTROID_MEMO[key] = train_ivf_centroids_exact(
                emb, n_clusters=16, iters=_IVF_EXACT_ITERS
            )
        cents = _EXACT_CENTROID_MEMO[key]
    assigned = assign_nearest_int(qemb, cents, "vec_id", "__q").select(
        "vec_id", F.col("embedding").alias("__cvec"), "cid"
    )
    queries = qemb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        "__q",
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("cid").asc()
    )
    probes = (
        _scored_against_int_centroids(queries, cents, "__q")
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= 3)
        .select("query_id", "__qvec", "cid")
    )
    cand = assigned.join(F.broadcast(probes), on="cid").where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.withColumn(
        "cosine",
        F.round(cosine_similarity(F.col("__cvec"), F.col("__qvec")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cosine", "rank")
    )


@_register(
    "ivf_indexed_topk",
    f"""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), a0 AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_cos_raw_sql('e.embedding', 'c.cv')} AS sim
        FROM embeddings e CROSS JOIN c
    ), assigned AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM a0
        ) WHERE rn = 1
    ), q0 AS (
        SELECT e.vec_id AS query_id, e.embedding AS qv, c.cid,
               {_cos_raw_sql('e.embedding', 'c.cv')} AS sim
        FROM embeddings e CROSS JOIN c
        WHERE e.vec_id < 5
    ), probes AS (
        SELECT query_id, qv, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, cid ASC) AS rn
            FROM q0
        ) WHERE rn <= 4
    ), cand AS (
        SELECT p.query_id, a.vec_id,
               {_cos_sql('a.embedding', 'p.qv')} AS cosine
        FROM assigned a JOIN probes p ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM cand
    ) WHERE rank <= 10
    """,
)
def ivf_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-IVF SERVING path, full-oracle-certified end to end
    (round-3 verdict item 5): build an index with
    ext/similarity.py::save_ivf_index — inverted lists written
    partitionBy(cid), centroids persisted beside them — from FIXED
    centroids (the 16 smallest-md5(vec_id) corpus vectors, the same
    seeds as ivf_fixed_centroids_topk), then serve the query batch with
    ivf_topk_indexed: stored-centroid scoring, probe-cid collect
    (≤ |queries|×n_probe ints), a partition-PRUNED scan of only the
    probed inverted lists, and exact-cosine ranking. Assignment and
    probe ordering use the RAW similarity (exactly what _assign_nearest
    does) — both engines run the identical sequential fold, so the
    DuckDB twin reproduces the whole index→probe→rank chain. Index lives
    under a fresh temp dir (registry contract: sf_dir is read-only)."""
    import tempfile

    from .ext.similarity import ivf_topk, ivf_topk_indexed, save_ivf_index
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = _md5_seed_centroids(emb)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        # the serving plan bakes the index's file paths into its scan, so
        # a plan-only caller (no index on disk, no jobs allowed) gets the
        # equivalent unindexed IVF plan as the representative shape
        return ivf_topk(emb, queries, k=10, n_probe=4, centroids=cents)
    # the index is MODEL state (deterministic: fixed centroids over an
    # immutable corpus) — build once per corpus and serve from it, the
    # same deployment pattern the centroid memo follows
    idx = _IVF_INDEX_MEMO.get(sf_dir)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfidx_q_") + "/idx"
        save_ivf_index(emb, idx, centroids=cents)
        _IVF_INDEX_MEMO[sf_dir] = idx
    return ivf_topk_indexed(spark, idx, queries, k=10, n_probe=4)


@_register(
    "ivf_append_serve_topk",
    f"""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        WHERE vec_id % 4 <> 0
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), a0 AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_cos_raw_sql('e.embedding', 'c.cv')} AS sim
        FROM embeddings e CROSS JOIN c
    ), assigned AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM a0
        ) WHERE rn = 1
    ), q0 AS (
        SELECT e.vec_id AS query_id, e.embedding AS qv, c.cid,
               {_cos_raw_sql('e.embedding', 'c.cv')} AS sim
        FROM embeddings e CROSS JOIN c
        WHERE e.vec_id < 5
    ), probes AS (
        SELECT query_id, qv, cid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, cid ASC) AS rn
            FROM q0
        ) WHERE rn <= 3
    ), cand AS (
        SELECT p.query_id, a.vec_id,
               {_cos_sql('a.embedding', 'p.qv')} AS cosine
        FROM assigned a JOIN probes p ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM cand
    ) WHERE rank <= 10
    """,
)
def ivf_append_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index MAINTENANCE, full-oracle-certified (round-5
    verdict item 7): build the persisted index from the BASE corpus
    slice only (vec_id % 4 ≠ 0; centroids = the base's 16 smallest-md5
    seeds — frozen before the append batch exists), append the remaining
    quarter with ext/similarity.py::append_to_ivf_index (batch assigned
    against the STORED centroids, appended into the partitionBy(cid)
    lists — no retrain, no touch of existing partitions), then serve
    with ivf_topk_indexed (partition-PRUNED probe scan). Because the
    frozen centroids make assignment deterministic and append-stable,
    base-then-append ≡ assigning the whole corpus against the base's
    seeds — which is exactly what the DuckDB twin replays, so the hash
    match certifies the append path delivers the same index it would
    have written in one shot. PartitionFilters on the serve scan stay
    asserted in tests/test_similarity.py."""
    import tempfile

    from .ext.similarity import (
        append_to_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
        save_ivf_index,
    )
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    base = emb.where(F.col("vec_id") % 4 != 0)
    batch = emb.where(F.col("vec_id") % 4 == 0)
    cents = _md5_seed_centroids(base)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        return ivf_topk(emb, queries, k=10, n_probe=3, centroids=cents)
    key = sf_dir + ":append"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfidx_app_") + "/idx"
        save_ivf_index(base, idx, centroids=cents)
        append_to_ivf_index(batch, idx)
        _IVF_INDEX_MEMO[key] = idx
    return ivf_topk_indexed(spark, idx, queries, k=10, n_probe=3)


_PQ_DIST = (
    "list_sum(list_transform(range(1, 9), "
    "i -> ({q}[8 * {s} + i] - {cv}[i]) * ({q}[8 * {s} + i] - {cv}[i])))"
)


@_register(
    "pq_adc_topk",
    f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               ) AS qv
        FROM embeddings
    ),
    ss AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
        SELECT s, c, cv FROM (
            SELECT ss.s AS s,
                   CAST(row_number() OVER (PARTITION BY ss.s ORDER BY
                       md5(CAST(q.vec_id AS VARCHAR) || ':pq'
                           || CAST(ss.s AS VARCHAR)), q.vec_id
                   ) AS INT) - 1 AS c,
                   q.qv[8 * ss.s + 1 : 8 * ss.s + 8] AS cv
            FROM q, ss
        ) WHERE c < 16
    ),
    enc AS (
        SELECT vec_id, s, c AS code FROM (
            SELECT q.vec_id, cb.s, cb.c,
                   row_number() OVER (PARTITION BY q.vec_id, cb.s ORDER BY
                       {_PQ_DIST.format(q='q.qv', s='cb.s', cv='cb.cv')}
                       ASC, cb.c ASC) AS rn
            FROM q CROSS JOIN cb
        ) WHERE rn = 1
    ),
    qt AS (
        SELECT q.vec_id AS query_id, cb.s, cb.c AS code,
               {_PQ_DIST.format(q='q.qv', s='cb.s', cv='cb.cv')} AS d
        FROM q CROSS JOIN cb
        WHERE q.vec_id < 5
    ),
    sc AS (
        SELECT qt.query_id, enc.vec_id,
               CAST(sum(qt.d) AS BIGINT) AS adc_dist
        FROM enc JOIN qt ON enc.s = qt.s AND enc.code = qt.code
        WHERE enc.vec_id <> qt.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
        ) AS INT) AS rank
        FROM sc
    ) WHERE rank <= 10
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011), the family's
    100 TB MEMORY answer: each 64-dim vector compresses to 8 small
    integer codes (8 subspaces × 16-entry codebooks — ~8 bytes vs 256
    of float32), queries build a per-subspace distance TABLE to every
    codebook entry, and search is one broadcast equi-join on (s, code)
    + a sum of table lookups — the raw vectors never participate in
    scoring. Codebooks are md5-seeded fixed subvector samples
    (DuckDB-reproducible, like the IVF seeds); distances are exact
    micro-unit integers, so encode + table + ADC ranking all replay
    digit-for-digit in the oracle. Recall vs brute force and the
    planted-copy invariant (identical codes ⇒ adc_dist 0) are pinned in
    tests/test_similarity.py; IVF handles the compute story
    (partition-pruned lists), PQ the memory story — composable."""
    from .ext.similarity import pq_adc_topk as _pq_topk
    from .ext.similarity import pq_seed_codebooks

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cbs = pq_seed_codebooks(emb)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return _pq_topk(emb, queries, cbs, k=10)


@_register(
    "ivf_pq_topk",
    f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               ) AS qv
        FROM embeddings
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS INT) - 1 AS cid,
               qv AS cv
        FROM (SELECT vec_id, qv FROM q
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ),
    fa AS (
        SELECT vec_id, cid FROM (
            SELECT q.vec_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       {_ivf_dist_sql('q.qv', 'c.cv')} ASC, c.cid ASC
                   ) AS rn
            FROM q CROSS JOIN c0 c
        ) WHERE rn = 1
    ),
    pqp AS (
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       {_ivf_dist_sql('q.qv', 'c.cv')} ASC, c.cid ASC
                   ) AS rn
            FROM q CROSS JOIN c0 c
            WHERE q.vec_id < 5
        ) WHERE rn <= 3
    ),
    ss AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
        SELECT s, c, cv FROM (
            SELECT ss.s AS s,
                   CAST(row_number() OVER (PARTITION BY ss.s ORDER BY
                       md5(CAST(q.vec_id AS VARCHAR) || ':pq'
                           || CAST(ss.s AS VARCHAR)), q.vec_id
                   ) AS INT) - 1 AS c,
                   q.qv[8 * ss.s + 1 : 8 * ss.s + 8] AS cv
            FROM q, ss
        ) WHERE c < 16
    ),
    enc AS (
        SELECT vec_id, s, c AS code FROM (
            SELECT q.vec_id, cb.s, cb.c,
                   row_number() OVER (PARTITION BY q.vec_id, cb.s ORDER BY
                       {_PQ_DIST.format(q='q.qv', s='cb.s', cv='cb.cv')}
                       ASC, cb.c ASC) AS rn
            FROM q CROSS JOIN cb
        ) WHERE rn = 1
    ),
    qt AS (
        SELECT q.vec_id AS query_id, cb.s, cb.c AS code,
               {_PQ_DIST.format(q='q.qv', s='cb.s', cv='cb.cv')} AS d
        FROM q CROSS JOIN cb
        WHERE q.vec_id < 5
    ),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM fa a JOIN pqp p ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    ),
    sc AS (
        SELECT cand.query_id, cand.vec_id,
               CAST(sum(qt.d) AS BIGINT) AS adc_dist
        FROM cand
        JOIN enc ON enc.vec_id = cand.vec_id
        JOIN qt ON qt.query_id = cand.query_id
              AND qt.s = enc.s AND qt.code = enc.code
        GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
        ) AS INT) AS rank
        FROM sc
    ) WHERE rank <= 10
    """,
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ composed — the faiss IndexIVFPQ architecture, both
    halves already certified separately and here certified AS A
    COMPOSITION: the IVF coarse quantizer (16 md5-seeded centroids,
    exact integer-distance assignment) bounds COMPUTE — each query
    scores only its 3 probed inverted lists, ~3/16 of the corpus — and
    PQ codes bound MEMORY — candidates score by ADC table lookups over
    8 bytes of codes, never touching raw vectors. At 100 TB the lists
    live partitionBy(cid) with code columns beside them (the
    ivf_indexed_topk layout), so a search reads 3 pruned partitions of
    8-byte codes: both dials compound. Every stage is exact integer
    arithmetic → full digit-identical DuckDB twin."""
    from .ext.similarity import (
        _pq_adc_table,
        _pq_codebook_df,
        _scored_against_int_centroids,
        assign_nearest_int,
        pq_encode,
        pq_seed_codebooks,
        quantize_micro_units,
        train_ivf_centroids_exact,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    qemb = emb.select(
        "vec_id", quantize_micro_units(F.col("embedding")).alias("__q")
    )
    # iters=0 ⇒ exactly the md5-seed centroids (no Lloyd round): the
    # fixed coarse quantizer both engines reproduce
    cents = train_ivf_centroids_exact(emb, n_clusters=16, iters=0)
    assigned = assign_nearest_int(qemb, cents, "vec_id", "__q").select(
        "vec_id", "cid"
    )
    cbs = pq_seed_codebooks(emb)
    codes = pq_encode(emb, cbs)
    queries = qemb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "__q"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("cid").asc()
    )
    probes = (
        _scored_against_int_centroids(queries, cents, "__q")
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= 3)
        .select("query_id", "cid")
    )
    cand = assigned.join(F.broadcast(probes), on="cid").where(
        F.col("vec_id") != F.col("query_id")
    ).select("query_id", "vec_id")
    table = _pq_adc_table(
        queries.withColumnRenamed("__q", "__qv"),
        "query_id",
        "__qv",
        _pq_codebook_df(spark, cbs),
        8,
        8,
    )
    scored = (
        codes.join(cand, on="vec_id")
        .join(F.broadcast(table), on=["query_id", "s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("__d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


@_register("ivfpq_indexed_topk")
def ivfpq_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED IVFPQ serving path (faiss IndexIVFPQ on disk):
    ext/similarity.py::save_ivfpq_index writes per vector only (id,
    8-byte code array, cid) partitionBy(cid) — raw vectors never reach
    the serving store — plus the integer centroids and PQ codebooks as
    model files; ivfpq_topk_indexed probes the stored centroids,
    reads ONLY the probed list partitions (PartitionFilters asserted in
    tests/test_similarity.py) and ADC-ranks from stored codes. Same
    deterministic semantics as ivf_pq_topk with the same model state,
    so the SAME DuckDB twin certifies the whole persisted chain —
    the ivf_indexed_topk pattern applied to the compressed index."""
    import tempfile

    from .ext.similarity import (
        ivfpq_topk_indexed,
        pq_seed_codebooks,
        save_ivfpq_index,
        train_ivf_centroids_exact,
    )
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        # the serving plan bakes index file paths into its scans; the
        # unindexed composition is the representative plan shape
        return ivf_pq_topk(spark, sf_dir)
    key = sf_dir + ":ivfpq"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfpq_q_") + "/idx"
        cents = train_ivf_centroids_exact(emb, n_clusters=16, iters=0)
        cbs = pq_seed_codebooks(emb)
        save_ivfpq_index(emb, idx, cents, cbs)
        _IVF_INDEX_MEMO[key] = idx
    return ivfpq_topk_indexed(spark, idx, queries, k=10, n_probe=3)


# identical semantics + model state as ivf_pq_topk, so the same twin
# certifies the persisted chain
ORACLE_SQL["ivfpq_indexed_topk"] = ORACLE_SQL["ivf_pq_topk"]


# Shared DuckDB fragment for the residual-IVFPQ family: the full exact
# chain — assignment, residuals, residual-seeded codebooks, encode,
# query probes, per-probe ADC tables — ending in the scored candidate
# set ``sc`` (query_id, vec_id, adc_dist). The base query ranks it to
# top-10; the two-stage rerank twin takes top-50 as the candidate set
# and re-ranks by exact cosine on the raw vectors. ``train_pred``
# (a predicate template over the ``{v}`` id column) restricts the
# MODEL-TRAINING corpus — centroid seeds and residual codebook seeds —
# while assignment/encode/scoring still cover every vector: exactly
# append_to_vector_index's semantics (new vectors encoded under the
# stored model, quantizers never move).


def _ivfpq_res_ctes(
    train_pred: str = "TRUE",
    corpus_pred: str = "TRUE",
    n_probe: int = 3,
    n_queries: int = 5,
) -> str:
    tp_q = train_pred.format(v="vec_id")
    tp_r = train_pred.format(v="r.vec_id")
    cp = corpus_pred.format(v="vec_id")
    return f"""q AS (
        SELECT vec_id,
               list_transform(embedding, x ->
                   CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
               ) AS qv
        FROM embeddings WHERE {cp}
    ),
    c0 AS (
        SELECT CAST(row_number() OVER (
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS INT) - 1 AS cid,
               qv AS cv
        FROM (SELECT vec_id, qv FROM q WHERE {tp_q}
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16)
    ),
    fa AS (
        SELECT vec_id, qv, cid FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       {_ivf_dist_sql('q.qv', 'c.cv')} ASC, c.cid ASC
                   ) AS rn
            FROM q CROSS JOIN c0 c
        ) WHERE rn = 1
    ),
    res AS (
        SELECT fa.vec_id, fa.cid,
               list_transform(range(1, 65), i -> fa.qv[i] - c.cv[i]) AS rv
        FROM fa JOIN c0 c ON c.cid = fa.cid
    ),
    ss AS (SELECT unnest(range(0, 8)) AS s),
    cb AS (
        SELECT s, c, cv FROM (
            SELECT ss.s AS s,
                   CAST(row_number() OVER (PARTITION BY ss.s ORDER BY
                       md5(CAST(r.vec_id AS VARCHAR) || ':pqr'
                           || CAST(ss.s AS VARCHAR)), r.vec_id
                   ) AS INT) - 1 AS c,
                   r.rv[8 * ss.s + 1 : 8 * ss.s + 8] AS cv
            FROM res r, ss WHERE {tp_r}
        ) WHERE c < 16
    ),
    enc AS (
        SELECT vec_id, s, c AS code FROM (
            SELECT r.vec_id, cb.s, cb.c,
                   row_number() OVER (PARTITION BY r.vec_id, cb.s ORDER BY
                       {_PQ_DIST.format(q='r.rv', s='cb.s', cv='cb.cv')}
                       ASC, cb.c ASC) AS rn
            FROM res r CROSS JOIN cb
        ) WHERE rn = 1
    ),
    pqp AS (
        SELECT query_id, qv, cid FROM (
            SELECT q.vec_id AS query_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY
                       {_ivf_dist_sql('q.qv', 'c.cv')} ASC, c.cid ASC
                   ) AS rn
            FROM q CROSS JOIN c0 c
            WHERE q.vec_id < {n_queries}
        ) WHERE rn <= {n_probe}
    ),
    qres AS (
        SELECT p.query_id, p.cid,
               list_transform(range(1, 65), i -> p.qv[i] - c.cv[i]) AS rv
        FROM pqp p JOIN c0 c ON c.cid = p.cid
    ),
    qt AS (
        SELECT qr.query_id, qr.cid, cb.s, cb.c AS code,
               {_PQ_DIST.format(q='qr.rv', s='cb.s', cv='cb.cv')} AS d
        FROM qres qr CROSS JOIN cb
    ),
    sc AS (
        SELECT qt.query_id, fa.vec_id,
               CAST(sum(qt.d) AS BIGINT) AS adc_dist
        FROM fa
        JOIN qt ON qt.cid = fa.cid
        JOIN enc ON enc.vec_id = fa.vec_id
               AND enc.s = qt.s AND enc.code = qt.code
        WHERE fa.vec_id <> qt.query_id
        GROUP BY 1, 2
    )"""


_IVFPQ_RES_CTES = _ivfpq_res_ctes()


@_register(
    "ivfpq_residual_topk",
    f"""
    WITH {_IVFPQ_RES_CTES}
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
        ) AS INT) AS rank
        FROM sc
    ) WHERE rank <= 10
    """,
)
def ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL-encoded IVFPQ — the faithful faiss IndexIVFPQ: PQ
    quantizes ``vector − assigned_centroid`` instead of the raw vector
    (residuals are centered near zero, so the same 16-entry codebooks
    spend their resolution where the data actually lives — the standard
    accuracy upgrade over raw-vector PQ), and each query builds one ADC
    table PER PROBED LIST against its own residual. Residuals are
    integer micro-unit differences, so the whole chain — assignment,
    residuals, residual-seeded codebooks, encode, per-probe tables,
    ranking — stays exact and replays digit-for-digit in the oracle.
    Scale: tables are |queries|·n_probe·m·k integers (broadcast); codes
    still ~8 bytes/vector; the candidate join keys on (cid, s, code)."""
    from .ext.similarity import (
        _pq_adc_table,
        _pq_codebook_df,
        _pq_encode_frame,
        _residual_frame,
        _scored_against_int_centroids,
        pq_seed_codebooks_residual,
        quantize_micro_units,
        train_ivf_centroids_exact,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    qemb = emb.select(
        "vec_id", quantize_micro_units(F.col("embedding")).alias("__q")
    )
    cents = train_ivf_centroids_exact(emb, n_clusters=16, iters=0)
    cdf_cent = spark.createDataFrame(
        [(int(c), [int(x) for x in v]) for c, v in cents],
        schema="cid INT, cv ARRAY<BIGINT>",
    )
    res = _residual_frame(emb, cents)
    # materialize the residual frame ONCE: the one-job codebook seeding
    # and the encode both read it, and without this the assignment join
    # was recomputed ~10x (measured 9.9s -> ~3s at sf0.1).
    # reliable=True keeps lineage (persist DISK_ONLY), so on a real
    # cluster an executor loss recomputes the lost blocks instead of
    # killing the job. Identity in plan-only mode.
    from .planmode import checkpoint

    res = checkpoint(res, reliable=True)
    cbs = pq_seed_codebooks_residual(res)
    cdf = _pq_codebook_df(spark, cbs)
    # encode residuals: argmin per (vec, s) — the one shared encode
    enc = _pq_encode_frame(
        res.select("vec_id", "__rv"), "__rv", cdf, 8, 8, "vec_id"
    )
    queries = qemb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "__q"
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__dist").asc(), F.col("cid").asc()
    )
    probes = (
        _scored_against_int_centroids(queries, cents, "__q")
        .withColumn("__r", F.row_number().over(wq))
        .where(F.col("__r") <= 3)
        .select("query_id", "__q", "cid")
    )
    qres = probes.join(F.broadcast(cdf_cent), on="cid").select(
        "query_id",
        "cid",
        F.zip_with("__q", "cv", lambda a, b: a - b).alias("__rv"),
    )
    table = _pq_adc_table(
        qres.select("query_id", "cid", "__rv"),
        "query_id",
        "__rv",
        cdf,
        8,
        8,
        extra_cols=["cid"],
    )
    cand = res.select("vec_id", "cid").join(
        F.broadcast(probes.select("query_id", "cid")), on="cid"
    ).where(F.col("vec_id") != F.col("query_id"))
    scored = (
        cand.join(enc, on="vec_id")
        .join(F.broadcast(table), on=["query_id", "cid", "s", "code"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("__d").cast("bigint").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "adc_dist", "rank")
    )


@_register("ivfpq_residual_indexed_topk")
def ivfpq_residual_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED residual-IVFPQ serving path (round-5 verdict item
    6 — faiss IndexIVFPQ's actual on-disk architecture):
    ext/similarity.py::save_ivfpq_residual_index writes per vector only
    (id, residual code array, cid) partitionBy(cid) plus the integer
    centroids and residual-seeded codebooks as model files;
    ivfpq_residual_topk_indexed probes the stored centroids, reads ONLY
    the probed list partitions (PartitionFilters asserted in
    tests/test_similarity.py), rebuilds each query's per-list residual
    and ADC-ranks from the stored codes. Same deterministic semantics
    and model state as the certified in-memory composition
    ivfpq_residual_topk, so the SAME DuckDB twin certifies the whole
    persisted chain."""
    import tempfile

    from .ext.similarity import (
        ivfpq_residual_topk_indexed,
        save_ivfpq_residual_index,
        train_ivf_centroids_exact,
    )
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        # the serving plan bakes index file paths into its scans; the
        # unindexed composition is the representative plan shape
        return ivfpq_residual_topk(spark, sf_dir)
    key = sf_dir + ":ivfpqr"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfpqr_q_") + "/idx"
        cents = train_ivf_centroids_exact(emb, n_clusters=16, iters=0)
        save_ivfpq_residual_index(emb, idx, cents)
        _IVF_INDEX_MEMO[key] = idx
    return ivfpq_residual_topk_indexed(spark, idx, queries, k=10, n_probe=3)


# identical semantics + model state as ivfpq_residual_topk, so the same
# twin certifies the persisted residual chain
ORACLE_SQL["ivfpq_residual_indexed_topk"] = ORACLE_SQL["ivfpq_residual_topk"]


@_register(
    "ivfpq_rerank_topk",
    f"""
    WITH {_IVFPQ_RES_CTES},
    cand AS (
        SELECT query_id, vec_id FROM (
            SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
            ) AS rn
            FROM sc
        ) WHERE rn <= 50
    ),
    rr AS (
        SELECT c.query_id, c.vec_id,
               {_cos_sql('e.embedding', 'qe.embedding')} AS cosine
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN embeddings qe ON qe.vec_id = c.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM rr
    ) WHERE rank <= 10
    """,
)
def ivfpq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval — the deployment shape every IVFPQ user
    actually runs (round-6 verdict item 4): the persisted residual-IVFPQ
    index nominates top-50 ADC candidates per query (compressed codes
    only — 8 bytes/vector), then ONLY those candidates' raw vectors are
    fetched and re-ranked by exact cosine (brute_force_topk's rounded
    scorer) for the final top-10. Certifies the recall/exactness seam
    the one-stage family leaves implicit: ADC distortion decides the
    candidate set, exact geometry decides the ranking. The oracle
    replays the whole chain — candidate set AND re-rank — digit for
    digit; a recall floor vs brute_force_topk is pinned in
    tests/test_similarity.py. 100 TB: stage 1 reads n_probe/n_clusters
    partition-pruned code lists; stage 2's raw-vector fetch is a
    |queries|·50-row broadcast semi-join against the vector store — the
    full-precision vectors never stream through ranking."""
    import tempfile

    from .ext.similarity import (
        ivfpq_residual_topk_indexed,
        save_ivfpq_residual_index,
        train_ivf_centroids_exact,
    )
    from .functions.vectors import cosine_similarity
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        # the serving plan bakes index file paths into its scans; the
        # unindexed composition is the representative stage-1 shape
        cand = ivfpq_residual_topk(spark, sf_dir).select(
            "query_id", "vec_id"
        )
    else:
        # same corpus, same model params → share bm25-style index memo
        # with ivfpq_residual_indexed_topk (identical on-disk state)
        key = sf_dir + ":ivfpqr"
        idx = _IVF_INDEX_MEMO.get(key)
        if idx is None:
            idx = tempfile.mkdtemp(prefix="ivfpqr_q_") + "/idx"
            cents = train_ivf_centroids_exact(emb, n_clusters=16, iters=0)
            save_ivfpq_residual_index(emb, idx, cents)
            _IVF_INDEX_MEMO[key] = idx
        cand = ivfpq_residual_topk_indexed(
            spark, idx, queries, k=50, n_probe=3
        ).select("query_id", "vec_id")
    rr = (
        cand.join(emb.select("vec_id", "embedding"), on="vec_id")
        .join(
            F.broadcast(
                queries.select("query_id", F.col("embedding").alias("__qv"))
            ),
            on="query_id",
        )
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("__qv")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc()
    )
    return (
        rr.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "cosine", "rank")
    )


@_register(
    "ivfpq_delete_serve",
    f"""
    WITH {_IVFPQ_RES_CTES}
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
        ) AS INT) AS rank
        FROM sc WHERE vec_id % 10 <> 3
    ) WHERE rank <= 10
    """,
)
def ivfpq_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR-INDEX tombstone deletes certified by hash — the embedding
    side of takedown/decontamination (the text twin is
    bm25_delete_serve): build the persisted residual-IVFPQ index,
    delete_from_vector_index the vec_id % 10 == 3 slice (an atomic
    delete segment of ids), then serve. Tombstoned vectors vanish from
    the candidate lists while the MODEL state (centroids, residual
    codebooks) deliberately stays — exactly faiss remove_ids semantics:
    quantizers are trained artifacts, not per-vector state — so the
    twin replays the full-corpus model and filters the scored
    candidates. Physical removal is the IVF re-cluster rebuild
    (SCALING.md lifecycle section)."""
    import tempfile

    from .ext.similarity import (
        delete_from_vector_index,
        ivfpq_residual_topk_indexed,
        save_ivfpq_residual_index,
        train_ivf_centroids_exact,
    )
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        return ivfpq_residual_topk(spark, sf_dir)
    key = sf_dir + ":ivfpqrdel"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfpqrdel_q_") + "/idx"
        cents = train_ivf_centroids_exact(emb, n_clusters=16, iters=0)
        save_ivfpq_residual_index(emb, idx, cents)
        delete_from_vector_index(
            emb.where(F.pmod(F.col("vec_id"), F.lit(10)) == 3).select(
                "vec_id"
            ),
            idx,
        )
        _IVF_INDEX_MEMO[key] = idx
    return ivfpq_residual_topk_indexed(spark, idx, queries, k=10, n_probe=3)


@_register(
    "ivfpq_append_serve_topk",
    f"""
    WITH {_ivfpq_res_ctes("({v} % 4 <> 1)")}
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
        ) AS INT) AS rank
        FROM sc
    ) WHERE rank <= 10
    """,
)
def ivfpq_append_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VECTOR-INDEX APPEND certified by hash — faiss IndexIVFPQ.add
    semantics, the embedding twin of bm25_incremental_topk: the index
    is built (centroids trained, codebooks seeded) on the vec_id%4≠1
    slice only, then the %4==1 slice arrives later via
    ext/similarity.py::append_to_vector_index — residual-encoded under
    the STORED model state (quantizers are trained artifacts and never
    move on append) into an atomic append segment the serve unions with
    the base lists. The twin replays exactly that asymmetry: centroid
    seeds and codebook seeds come from the base slice, while
    assignment/encode/scoring cover every vector. 100 TB: appends are
    O(batch) encode jobs + one partitioned segment write; serving
    unions partition-pruned scans, and segment count is bounded by
    compact_vector_index (the ivfpq_compacted_topk lifecycle)."""
    import tempfile

    from .ext.similarity import (
        append_to_vector_index,
        ivfpq_residual_topk_indexed,
        save_ivfpq_residual_index,
        train_ivf_centroids_exact,
    )
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        return ivfpq_residual_topk(spark, sf_dir)
    key = sf_dir + ":ivfpqapp"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfpqapp_q_") + "/idx"
        base = emb.where(F.pmod(F.col("vec_id"), F.lit(4)) != 1)
        cents = train_ivf_centroids_exact(base, n_clusters=16, iters=0)
        save_ivfpq_residual_index(base, idx, cents)
        append_to_vector_index(
            emb.where(F.pmod(F.col("vec_id"), F.lit(4)) == 1), idx
        )
        _IVF_INDEX_MEMO[key] = idx
    return ivfpq_residual_topk_indexed(spark, idx, queries, k=10, n_probe=3)


@_register(
    "ivfpq_compacted_topk",
    f"""
    WITH {_ivfpq_res_ctes("({v} % 4 <> 1)")}
    SELECT query_id, vec_id, adc_dist, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
        ) AS INT) AS rank
        FROM sc WHERE vec_id % 10 <> 3
    ) WHERE rank <= 10
    """,
)
def ivfpq_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL vector-index lifecycle certified end-to-end by one
    hash: build on the vec_id%4≠1 slice, APPEND the %4==1 slice under
    the stored model, tombstone the %10==3 slice
    (delete_from_vector_index), COMPACT — a new generation = (base ∪
    appends) anti-join tombstones, published atomically with a
    cumulative ``consumed`` manifest — then VACUUM the consumed dirs
    and serve from what physically remains. The twin replays the
    append-asymmetric model and drops deleted ids from the scored set;
    pytest separately pins serve-equality at every lifecycle step
    (tombstones-pending == compacted == vacuumed) and crash-safety
    (uncommitted generations are invisible). This is the faiss gap
    closed relationally: remove_ids only masks, here the bytes are
    reclaimed while model state (centroids, codebooks) stays fixed."""
    import tempfile

    from .ext.similarity import (
        append_to_vector_index,
        compact_vector_index,
        delete_from_vector_index,
        ivfpq_residual_topk_indexed,
        save_ivfpq_residual_index,
        train_ivf_centroids_exact,
        vacuum_vector_index,
    )
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        return ivfpq_residual_topk(spark, sf_dir)
    key = sf_dir + ":ivfpqcomp"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfpqcomp_q_") + "/idx"
        base = emb.where(F.pmod(F.col("vec_id"), F.lit(4)) != 1)
        cents = train_ivf_centroids_exact(base, n_clusters=16, iters=0)
        save_ivfpq_residual_index(base, idx, cents)
        append_to_vector_index(
            emb.where(F.pmod(F.col("vec_id"), F.lit(4)) == 1), idx
        )
        delete_from_vector_index(
            emb.where(F.pmod(F.col("vec_id"), F.lit(10)) == 3).select(
                "vec_id"
            ),
            idx,
        )
        compact_vector_index(spark, idx)
        vacuum_vector_index(spark, idx)
        _IVF_INDEX_MEMO[key] = idx
    return ivfpq_residual_topk_indexed(spark, idx, queries, k=10, n_probe=3)


@_register("stream_ivfpq_topk")
def stream_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-maintained VECTOR index with a full oracle — the
    embedding sibling of stream_bm25_topk: the index is built on the
    vec_id%4≠1 slice, then the %4==1 slice arrives as json micro-batches
    a real Structured Streaming query folds into the persisted index via
    ext/similarity.py::append_to_vector_index. Exactly-once comes from
    the INDEX itself (content-keyed atomic segments no-op on replay; the
    id anti-join dedups overlapping batches), so the served ranking is a
    pure function of the inserted vectors regardless of batching and the
    SAME twin as ivfpq_append_serve_topk certifies the streamed chain.
    Vectors cross the json hop as micro-unit BIGINT arrays — the exact
    integers the quantization contract produces — and are reconstructed
    by x/10⁶ (re-quantization is the identity on them), so streaming
    adds zero float drift."""
    import glob
    import os
    import tempfile

    from .ext.similarity import (
        append_to_vector_index,
        ivfpq_residual_topk_indexed,
        save_ivfpq_residual_index,
        train_ivf_centroids_exact,
    )
    from .ext.similarity import quantize_micro_units as _qmu
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    if is_plan_only():
        return ivfpq_residual_topk(spark, sf_dir)
    key = sf_dir + ":ivfpqstream"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        tmp = tempfile.mkdtemp(prefix="sivfpq_q_")
        idx, landing, ckpt = f"{tmp}/idx", f"{tmp}/in", f"{tmp}/ckpt"
        os.makedirs(landing)
        base = emb.where(F.pmod(F.col("vec_id"), F.lit(4)) != 1)
        cents = train_ivf_centroids_exact(base, n_clusters=16, iters=0)
        save_ivfpq_residual_index(base, idx, cents)
        late = emb.where(F.pmod(F.col("vec_id"), F.lit(4)) == 1).select(
            "vec_id", _qmu(F.col("embedding")).alias("qv")
        )
        halves = F.pmod(F.col("vec_id"), F.lit(8)) == 1
        for i, b in enumerate([late.where(halves), late.where(~halves)]):
            d = f"{tmp}/stage{i}"
            b.write.json(d)
            for j, part in enumerate(sorted(glob.glob(f"{d}/part-*.json"))):
                os.rename(part, f"{landing}/b{i}_{j:04d}.json")

        def commit(batch: DataFrame, batch_id: int) -> None:
            append_to_vector_index(
                batch.select(
                    "vec_id",
                    F.transform(
                        "qv", lambda x: x / F.lit(1000000.0)
                    ).alias("embedding"),
                ),
                idx,
            )

        q = (
            spark.readStream.schema("vec_id LONG, qv ARRAY<BIGINT>")
            .json(landing)
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "stream_ivfpq_topk: stream did not finish within 300s — "
                "refusing to serve a partial index"
            )
        _IVF_INDEX_MEMO[key] = idx
    return ivfpq_residual_topk_indexed(spark, idx, queries, k=10, n_probe=3)


# streamed appends == one-shot append == the asymmetric-model twin
ORACLE_SQL["stream_ivfpq_topk"] = ORACLE_SQL["ivfpq_append_serve_topk"]


@_register(
    "ivfpq_drift_report",
    f"""
    WITH {_ivfpq_res_ctes("({v} % 4 <> 1)")},
    err AS (
        SELECT r.vec_id,
               CAST(sum(list_sum(list_transform(range(1, 9), i ->
                   (r.rv[8 * e.s + i] - cb.cv[i])
                   * (r.rv[8 * e.s + i] - cb.cv[i])))) AS HUGEINT) AS se
        FROM res r
        JOIN enc e ON e.vec_id = r.vec_id
        JOIN cb ON cb.s = e.s AND cb.c = e.code
        GROUP BY 1
    )
    SELECT CASE WHEN vec_id % 4 = 1 THEN 'appended' ELSE 'base' END
               AS cohort,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(se) // count(*) AS BIGINT) AS avg_sq_err,
           CAST(max(se) AS BIGINT) AS max_sq_err
    FROM err GROUP BY 1
    """,
)
def ivfpq_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-STALENESS monitor for the persisted vector index, exact to
    the last integer: per-vector squared PQ reconstruction error
    ‖residual − decode(stored codes)‖²
    (ext/similarity.py::ivfpq_reconstruction_error — stored assignment,
    stored codebooks, no re-fitting), rolled up per cohort: vectors the
    model was TRAINED on (the %4≠1 base) vs vectors APPENDED later
    under the frozen model. The appended cohort's higher average is the
    drift signal that triggers the re-cluster rebuild in SCALING.md's
    lifecycle — here the trigger arithmetic itself is hash-certified
    (every residual is an exact integer, so avg/max replay
    digit-for-digit in the oracle). 100 TB: one broadcast of model
    state, one id-join of corpus against code lists, partial-aggregated
    rollup — nothing quadratic, nothing collected."""
    import tempfile

    from .ext.similarity import (
        append_to_vector_index,
        ivfpq_reconstruction_error,
        save_ivfpq_residual_index,
        train_ivf_centroids_exact,
    )
    from .planmode import is_plan_only

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    if is_plan_only():
        return ivfpq_residual_topk(spark, sf_dir)
    key = sf_dir + ":ivfpqapp"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="ivfpqapp_q_") + "/idx"
        base = emb.where(F.pmod(F.col("vec_id"), F.lit(4)) != 1)
        cents = train_ivf_centroids_exact(base, n_clusters=16, iters=0)
        save_ivfpq_residual_index(base, idx, cents)
        append_to_vector_index(
            emb.where(F.pmod(F.col("vec_id"), F.lit(4)) == 1), idx
        )
        _IVF_INDEX_MEMO[key] = idx
    rep = ivfpq_reconstruction_error(spark, idx, emb)
    return (
        rep.withColumn(
            "cohort",
            F.when(
                F.pmod(F.col("vec_id"), F.lit(4)) == 1, F.lit("appended")
            ).otherwise(F.lit("base")),
        )
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.expr(
                "CAST(sum(CAST(sq_err AS DECIMAL(38,0))) div count(1)"
                " AS BIGINT)"
            ).alias("avg_sq_err"),
            F.max("sq_err").alias("max_sq_err"),
        )
    )


@_register(
    "embedding_neardup_pairs",
    f"""
    WITH hp AS (
        SELECT tt.t, bb.i,
               list_transform(range(0, 64), c ->
                   CASE WHEN substr(md5(printf('srp:%d:%d:%d', tt.t, bb.i, c)), 1, 1)
                        IN ('0','1','2','3','4','5','6','7')
                        THEN 1.0 ELSE -1.0 END) AS r
        FROM (SELECT unnest(range(0, 4)) AS t) tt,
             (SELECT unnest(range(0, 8)) AS i) bb
    ), sigs AS (
        SELECT e.vec_id, hp.t,
               CAST(sum(CASE WHEN list_sum(list_transform(range(0, 64), c ->
                        CAST(e.embedding[c + 1] AS DOUBLE) * hp.r[c + 1])) > 0
                        THEN (CAST(1 AS BIGINT) << hp.i) ELSE 0 END)
                    AS BIGINT) AS sig
        FROM embeddings e CROSS JOIN hp
        GROUP BY e.vec_id, hp.t
    ), kept AS (
        SELECT t, sig FROM sigs GROUP BY t, sig HAVING count(*) <= 200
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sigs a
        JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
        JOIN kept k ON k.t = a.t AND k.sig = a.sig
    )
    SELECT id_a, id_b, cosine FROM (
        SELECT c.id_a, c.id_b,
               {{cos}} AS cosine
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.id_a
        JOIN embeddings eb ON eb.vec_id = c.id_b
    ) WHERE cosine >= 0.95
    """.replace("{cos}", _cos_sql("ea.embedding", "eb.embedding")),
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs through SRP-LSH buckets
    (ext/similarity.py::srp_neardup_pairs) — candidates are pairs
    sharing a (table, signature) bucket in any of 4 independent 8-bit
    signatures, with a bucket-size cap of 200 bounding the worst
    bucket's pair count regardless of skew; only candidates get the
    exact cosine, and round(cosine,6) >= 0.95 survives. Replaces the
    round-3 label-blocked self-join, whose hot block was quadratic
    (verdict item 3). The oracle reproduces the ENTIRE approximate
    pipeline — hyperplanes, signatures, bucket cap, candidate set,
    verification — so the hash match certifies the LSH candidate
    generation, not just the verify step; planted-near-dup recall is
    pinned in tests/test_similarity.py."""
    from .ext.similarity import srp_neardup_pairs

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return srp_neardup_pairs(
        emb, threshold=0.95, dim=64, n_bits=8, tables=4, max_bucket=200
    )


@_register(
    "knn_graph_topk",
    f"""
    WITH hp AS (
        SELECT tt.t, bb.i,
               list_transform(range(0, 64), c ->
                   CASE WHEN substr(md5(printf('srp:%d:%d:%d', tt.t, bb.i, c)), 1, 1)
                        IN ('0','1','2','3','4','5','6','7')
                        THEN 1.0 ELSE -1.0 END) AS r
        FROM (SELECT unnest(range(0, 4)) AS t) tt,
             (SELECT unnest(range(0, 8)) AS i) bb
    ), sigs AS (
        SELECT e.vec_id, hp.t,
               CAST(sum(CASE WHEN list_sum(list_transform(range(0, 64), c ->
                        CAST(e.embedding[c + 1] AS DOUBLE) * hp.r[c + 1])) > 0
                        THEN (CAST(1 AS BIGINT) << hp.i) ELSE 0 END)
                    AS BIGINT) AS sig
        FROM embeddings e CROSS JOIN hp
        GROUP BY e.vec_id, hp.t
    ), kept AS (
        SELECT t, sig FROM sigs GROUP BY t, sig HAVING count(*) <= 200
    ), cand AS (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM sigs a
        JOIN sigs b ON a.t = b.t AND a.sig = b.sig
                   AND a.vec_id <> b.vec_id
        JOIN kept k ON k.t = a.t AND k.sig = a.sig
    ), scored AS (
        SELECT c.src, c.dst,
               {{cos}} AS cosine
        FROM cand c
        JOIN embeddings ea ON ea.vec_id = c.src
        JOIN embeddings eb ON eb.vec_id = c.dst
    )
    SELECT src, dst, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY src ORDER BY cosine DESC, dst ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 3
    """.replace("{cos}", _cos_sql("ea.embedding", "eb.embedding")),
)
def knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN GRAPH (ext/similarity.py::srp_knn_graph): every
    vector's top-3 bucket-mate neighbors by exact cosine, through the
    same SRP-LSH candidate machinery as embedding_neardup_pairs (4×8-bit
    md5-derived signatures, bucket cap 200) — the input representation
    for graph-based curation: connected-component duplicate clusters,
    label propagation, graph-walk subsampling. Per-node candidates are
    bounded at tables×cap by construction, so the ranking window never
    meets a skewed group. The oracle reproduces hyperplanes, signatures,
    cap, candidate set and ranking — the whole approximate pipeline."""
    from .ext.similarity import srp_knn_graph

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return srp_knn_graph(
        emb, k=3, dim=64, n_bits=8, tables=4, max_bucket=200
    )


@_register(
    "embedding_dup_clusters",
    f"""
    WITH RECURSIVE hp AS (
        SELECT tt.t, bb.i,
               list_transform(range(0, 64), c ->
                   CASE WHEN substr(md5(printf('srp:%d:%d:%d', tt.t, bb.i, c)), 1, 1)
                        IN ('0','1','2','3','4','5','6','7')
                        THEN 1.0 ELSE -1.0 END) AS r
        FROM (SELECT unnest(range(0, 4)) AS t) tt,
             (SELECT unnest(range(0, 8)) AS i) bb
    ), sigs AS (
        SELECT e.vec_id, hp.t,
               CAST(sum(CASE WHEN list_sum(list_transform(range(0, 64), c ->
                        CAST(e.embedding[c + 1] AS DOUBLE) * hp.r[c + 1])) > 0
                        THEN (CAST(1 AS BIGINT) << hp.i) ELSE 0 END)
                    AS BIGINT) AS sig
        FROM embeddings e CROSS JOIN hp
        GROUP BY e.vec_id, hp.t
    ), kept AS (
        SELECT t, sig FROM sigs GROUP BY t, sig HAVING count(*) <= 200
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM sigs a
        JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vec_id < b.vec_id
        JOIN kept k ON k.t = a.t AND k.sig = a.sig
    ), pairs AS (
        SELECT id_a, id_b FROM (
            SELECT c.id_a, c.id_b,
                   {{cos}} AS cosine
            FROM cand c
            JOIN embeddings ea ON ea.vec_id = c.id_a
            JOIN embeddings eb ON eb.vec_id = c.id_b
        ) WHERE cosine >= 0.4
    ), edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ), reach(node, r) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT re.node, e.v FROM reach re JOIN edges e ON e.u = re.r
    )
    SELECT node AS vec_id, min(r) AS cluster_id
    FROM reach GROUP BY 1
    """.replace("{cos}", _cos_sql("ea.embedding", "eb.embedding")),
)
def embedding_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup CLUSTER assignment — the SRP sibling of
    lsh_neardup_clusters, and the step semantic curation actually
    dedups with (keep one representative per cluster): SRP-LSH pairs
    (same certified machinery as embedding_neardup_pairs; threshold
    0.4 so this corpus forms real multi-member clusters) become edges,
    star-CC labels every vector with its component's min id, singletons
    label themselves. Detector edges chain transitively (A~B, B~C ⇒
    one cluster). The oracle replays pairs + the closure via a
    recursive CTE — the whole approximate pipeline including the graph
    algorithm."""
    from .ext.graph import connected_components
    from .ext.similarity import srp_neardup_pairs

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    pairs = srp_neardup_pairs(
        emb, threshold=0.4, dim=64, n_bits=8, tables=4, max_bucket=200
    )
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    comp = connected_components(edges)
    return (
        emb.select("vec_id")
        .join(comp, emb.vec_id == comp.node, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias(
                "cluster_id"
            ),
        )
    )


@_register(
    "semantic_dedup_docs",
    f"""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS cv FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ), a0 AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_cos_raw_sql('e.embedding', 'c.cv')} AS sim
        FROM embeddings e CROSS JOIN c
    ), scored AS (
        SELECT vec_id, embedding, CAST(cid AS INT) AS cid,
               round(sim, 6) AS centrality
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM a0
        ) WHERE rn = 1
    ), pairable AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cid ORDER BY centrality DESC, vec_id ASC
            ) AS crk
            FROM scored
        ) WHERE crk <= 64
    ), dropped AS (
        SELECT DISTINCT b.vec_id
        FROM pairable a JOIN pairable b ON a.cid = b.cid
         AND ((a.centrality > b.centrality) OR
              (a.centrality = b.centrality AND a.vec_id < b.vec_id))
        WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.95
    )
    SELECT s.vec_id, s.cid, s.centrality,
           (d.vec_id IS NULL) AS is_kept
    FROM scored s LEFT JOIN dropped d USING (vec_id)
    """,
)
def semantic_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023;
    ext/similarity.py::semantic_dedup) over the embeddings corpus:
    cluster every vector to its nearest fixed centroid (the 16
    smallest-md5(vec_id) seeds — same DuckDB-reproducible selection as
    the IVF queries), rank members by centrality (cosine to own
    centroid), and drop any member with a HIGHER-ranked cluster-mate
    within 0.95 cosine. Pairwise work is bounded per cluster two ways:
    expected size |corpus|/k (k is the paper's dial — it runs
    k ≈ n/5000; the fixed k=16 here is a sample-scale setting for the
    500–5000-vector gate corpora), and the HARD ``max_cluster=64`` cap
    (round-5 verdict item 2): only the 64 most-central members of a
    cluster pair up, so a degenerate assignment can never go quadratic;
    past-cap members are kept, never silently deleted. The oracle
    reproduces assignment, centrality, the cap rank, and the drop rule
    exactly; drop behavior on planted duplicates and the cap's pair
    bound are pinned in tests/test_similarity.py."""
    from .ext.similarity import semantic_dedup

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    cents = _md5_seed_centroids(emb)
    return semantic_dedup(emb, cents, threshold=0.95, max_cluster=64)


@_register("minhash_lsh_neardup", _minhash_neardup_sql())
def minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidates → exact shingle-Jaccard ≥ 0.5
    (ext/dedup_text.py tier 3), in md5 hash mode so the whole banded
    pipeline — candidate generation included — is reproduced bit-for-bit
    by the DuckDB oracle (xxhash64 mode is the pure-JVM fast path for
    production; same plan shape, different hash family). Returns
    (id_a, id_b, jaccard)."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    cand = minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text", hash_fn="md5"
    )
    return jaccard_verify(cand, docs, threshold=0.5).orderBy("id_a", "id_b")


@_register("incremental_minhash_gate", _minhash_gate_sql())
def incremental_minhash_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONLINE ingestion dedup gate certified by hash — the
    production shape of continuous-ingest near-dup control
    (ext/dedup_text.py::incremental_lsh_neardup): the doc_id%3≠2 slice
    bootstraps a PERSISTED LSH band store (snapshot table of banded
    MinHash signatures, greedy-by-id within-batch dedup), then the
    %3==2 slice arrives as a new batch and each doc is kept iff it
    shares no band bucket at ≥ 12/16 signature agreement (threshold
    0.7) with an indexed survivor or a smaller-id batchmate. Returns
    (doc_id, kept) for every new doc. md5 hash mode so the oracle
    replays the store bootstrap AND the gate decision bit-for-bit.
    100 TB: per batch the store is touched only in the buckets the
    batch lands in (left_semi prune), work is O(batch + candidates) —
    never O(corpus) — and boilerplate buckets are capped."""
    import tempfile

    from .ext.dedup_text import (
        bands_from_signatures,
        incremental_lsh_neardup,
        minhash_signatures,
    )
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    new = docs.where(F.pmod("doc_id", F.lit(3)) == 2)
    if is_plan_only():
        # representative per-batch plan without the snapshot-store IO:
        # sign + band the batch, agreement join against the old slice
        old_b = bands_from_signatures(
            minhash_signatures(
                docs.where(F.pmod("doc_id", F.lit(3)) != 2), hash_fn="md5"
            ),
            16,
            4,
        )
        new_b = bands_from_signatures(
            minhash_signatures(new, hash_fn="md5"), 16, 4
        )
        hit = (
            new_b.join(
                old_b.select("band", "bucket").distinct(),
                ["band", "bucket"],
                "left_semi",
            )
            .select("doc_id")
            .distinct()
            .withColumn("kept", F.lit(False))
        )
        return (
            new.select("doc_id")
            .join(hit, "doc_id", "left")
            .select("doc_id", F.coalesce("kept", F.lit(True)).alias("kept"))
        )
    store = tempfile.mkdtemp(prefix="mh_gate_q_") + "/store"
    # ONE signature pass over the corpus shared by the store bootstrap
    # and the probe batch (optimization round 9, guide §2.4): the two
    # calls used to each scan the documents table and sign their
    # disjoint slice — same total hash CPU, but two corpus scans and
    # two signature jobs where one suffices. The slices of the one
    # materialized frame are exactly what each call would have signed.
    from .ext.dedup_text import incremental_signatures
    from .planmode import checkpoint

    sigs_all = checkpoint(incremental_signatures(docs, hash_fn="md5"))
    incremental_lsh_neardup(
        docs.where(F.pmod("doc_id", F.lit(3)) != 2),
        store,
        hash_fn="md5",
        threshold=0.7,
        presigned=sigs_all.where(F.pmod("doc_id", F.lit(3)) != 2),
    )
    surv = incremental_lsh_neardup(
        new,
        store,
        hash_fn="md5",
        threshold=0.7,
        presigned=sigs_all.where(F.pmod("doc_id", F.lit(3)) == 2),
    )
    return (
        new.select("doc_id")
        .join(
            surv.select("doc_id").withColumn("kept", F.lit(True)),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("kept", F.lit(False)).alias("kept"))
    )


@_register(
    "incremental_exact_gate",
    """
    WITH old AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 <> 2
    ), nw AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 2
    ), keptids AS (
        SELECT doc_id FROM (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
            FROM nw WHERE h NOT IN (SELECT h FROM old)
        ) WHERE rn = 1
    )
    SELECT doc_id,
           doc_id IN (SELECT doc_id FROM keptids) AS kept
    FROM documents WHERE doc_id % 3 = 2
    """,
)
def incremental_exact_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tier-1 EXACT sibling of incremental_minhash_gate, certified
    by hash (ext/dedup_text.py::incremental_exact_dedup): the old slice
    bootstraps the persisted 2-column (md5, src_id) fingerprint
    snapshot, the new slice anti-joins it (already-seen content drops)
    and keep-firsts within the batch. Returns (doc_id, kept) per new
    doc. The crash contract (corpus write FIRST, fingerprint commit
    SECOND → at-least-once rerun + idempotent sink = exactly-once) is
    pinned in tests/test_dedup_text.py; here the oracle certifies the
    keep DECISION end-to-end. 100 TB: the index is ~50 bytes/doc and
    the batch never rescans prior text."""
    import tempfile

    from .ext.dedup_text import incremental_exact_dedup
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    new = docs.where(F.pmod("doc_id", F.lit(3)) == 2)
    if is_plan_only():
        old_h = docs.where(F.pmod("doc_id", F.lit(3)) != 2).select(
            F.md5("text").alias("__h")
        )
        kept = (
            new.withColumn("__h", F.md5("text"))
            .join(old_h, "__h", "left_anti")
            .select("doc_id")
            .withColumn("kept", F.lit(True))
        )
        return (
            new.select("doc_id")
            .join(kept, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("kept", F.lit(False)).alias("kept")
            )
        )
    store = tempfile.mkdtemp(prefix="ex_gate_q_") + "/store"
    incremental_exact_dedup(
        docs.where(F.pmod("doc_id", F.lit(3)) != 2), store
    )
    surv = incremental_exact_dedup(new, store)
    return (
        new.select("doc_id")
        .join(
            surv.select("doc_id").withColumn("kept", F.lit(True)),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("kept", F.lit(False)).alias("kept"))
    )


@_register(
    "simhash_neardup_pairs",
    _simhash_fp_cte()
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    """,
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates (ext/dedup_text.py tier 2b): pigeonhole
    band join on fingerprint chunks → exact Hamming ≤ 4 filter. The
    pigeonhole banding is COMPLETE for Hamming ≤ max_hamming, so the
    oracle is the straight quadratic self-join over md5-mode fingerprints
    (bucket-cap never binds at oracle scale); planted-near-dup recall is
    additionally pinned in tests/test_dedup_text.py."""
    from .ext.dedup_text import simhash_candidates

    docs = spread(load_table(spark, sf_dir, "documents"))
    return simhash_candidates(docs, max_hamming=4).orderBy("id_a", "id_b")


@_register(
    "neardup_ensemble_pairs",
    f"""
    SELECT coalesce(m.id_a, s.id_a) AS id_a,
           coalesce(m.id_b, s.id_b) AS id_b,
           m.jaccard,
           s.hamming,
           CASE WHEN m.id_a IS NOT NULL AND s.id_a IS NOT NULL
                THEN 'both'
                WHEN m.id_a IS NOT NULL THEN 'minhash'
                ELSE 'simhash' END AS found_by
    FROM ({_minhash_neardup_sql()}) m
    FULL JOIN (
        {_simhash_fp_cte()}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               bit_count(xor(a.simhash, b.simhash))::INTEGER AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    ) s ON m.id_a = s.id_a AND m.id_b = s.id_b
    """,
)
def neardup_ensemble_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector-ENSEMBLE agreement — the curation QA step that decides
    which near-dup tier to trust before deleting data: the MinHash-LSH
    pair set (shingle-Jaccard ≥ 0.5) full-outer-joined with the SimHash
    pair set (Hamming ≤ 4), each pair labeled both/minhash/simhash with
    its scores. Disagreements are the review queue (SimHash misses
    reordered text; MinHash misses short docs); both detectors are
    individually certified and the ensemble join is certified here as a
    composition. Scale: the join is pair-keyed — the detectors' own
    banding bounds pair counts, so the ensemble adds one pair-sized
    shuffle."""
    from .ext.dedup_text import (
        jaccard_verify,
        minhash_lsh_candidates,
        simhash_candidates,
    )

    docs = spread(load_table(spark, sf_dir, "documents"))
    cand = minhash_lsh_candidates(
        docs, id_col="doc_id", text_col="text", hash_fn="md5"
    )
    mh = jaccard_verify(cand, docs, threshold=0.5).select(
        "id_a", "id_b", "jaccard"
    )
    sh = simhash_candidates(docs, max_hamming=4).select(
        "id_a", "id_b", "hamming"
    )
    j = mh.alias("m").join(
        sh.alias("s"),
        (F.col("m.id_a") == F.col("s.id_a"))
        & (F.col("m.id_b") == F.col("s.id_b")),
        "full",
    )
    return j.select(
        F.coalesce(F.col("m.id_a"), F.col("s.id_a")).alias("id_a"),
        F.coalesce(F.col("m.id_b"), F.col("s.id_b")).alias("id_b"),
        F.col("m.jaccard").alias("jaccard"),
        F.col("s.hamming").alias("hamming"),
        F.when(
            F.col("m.id_a").isNotNull() & F.col("s.id_a").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("m.id_a").isNotNull(), F.lit("minhash"))
        .otherwise(F.lit("simhash"))
        .alias("found_by"),
    )


@_register(
    "simhash_fingerprints",
    _simhash_fp_cte() + "\n    SELECT doc_id, simhash FROM fp\n    ",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit md5-mode SimHash fingerprints (ext/dedup_text.py tier 2) —
    bit-identical across engines, so the 60-bit majority-vote construction
    is verified value-for-value against the DuckDB twin."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return simhash64(docs).select("doc_id", "simhash")


# =========================================================================
# Beyond-the-reference operator classes (engine extensions a user of a real
# analytics engine expects; SURVEY §2 notes each as absent in the reference)
# =========================================================================

@_register(
    "cube_daily_types",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date, event_type,
           count(*) AS n, {_sql_sum('value')} AS value_sum
    FROM events
    WHERE ts < TIMESTAMP '2024-01-05 00:00:00'
    GROUP BY CUBE (1, 2)
    """,
)
def cube_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping sets in one Expand + aggregation pass (the
    per-type totals that ROLLUP's hierarchy omits)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp_ntz"))
        .cube(F.date_format("ts", "yyyy-MM-dd").alias("date"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum(F.col("value")).alias("value_sum"))
    )


@_register(
    "rollup_daily_types",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date, event_type,
           count(*) AS n, {_sql_sum('value')} AS value_sum
    FROM events
    WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY ROLLUP (1, 2)
    """,
)
def rollup_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (date → date×type → grand total) — one pass,
    partial-agg per grouping set."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp_ntz"))
        .rollup(F.date_format("ts", "yyyy-MM-dd").alias("date"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum(F.col("value")).alias("value_sum"))
    )


@_register(
    "rollup_grand_total_empty",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date, event_type,
           count(*) AS n, {_sql_sum('value')} AS value_sum
    FROM events
    WHERE event_type = 'does_not_exist'
    GROUP BY ROLLUP (1, 2)
    """,
)
def rollup_grand_total_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard ROLLUP over an EMPTY input (operators/aggregates.py::
    sql_standard_rollup): the standard's () grouping set contributes a
    grand-total row even when the input has no rows — one row of NULL
    keys with n = 0 and a NULL sum — where Spark's native Expand-based
    rollup returns nothing (the divergence the round-3 differential
    fuzzer found and the harness had to absorb). This query pins the
    engine-side option against the DuckDB standard behavior; non-empty
    equivalence with the native rollup is pinned in pytest."""
    from .operators.aggregates import sql_standard_rollup

    ev = load_table(spark, sf_dir, "events")
    return sql_standard_rollup(
        ev.where(F.col("event_type") == "does_not_exist"),
        [F.date_format("ts", "yyyy-MM-dd").alias("date"), F.col("event_type")],
        [F.count(F.lit(1)).alias("n"), _dec_sum(F.col("value")).alias("value_sum")],
    )


@_register(
    "pivot_type_daily_value",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           {_sql_sum('CASE WHEN event_type = %s THEN value END' % "'click'")}    AS click,
           {_sql_sum("CASE WHEN event_type = 'error' THEN value END")}    AS error,
           {_sql_sum("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase,
           {_sql_sum("CASE WHEN event_type = 'signup' THEN value END")}   AS signup,
           {_sql_sum("CASE WHEN event_type = 'view' THEN value END")}     AS view
    FROM events
    GROUP BY 1
    """,
)
def pivot_type_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation) with an explicit value list — deterministic
    columns, single shuffle. At scale: always pass the pivot values (the
    two-pass inference collects distinct values to the driver)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date"))
        .pivot("event_type", types)
        .agg(_dec_sum(F.col("value")))
    )


@_register(
    "lead_lag_delta",
    """
    SELECT event_id, user_id,
           lag(event_id) OVER w AS prev_event_id,
           CAST(epoch(date_trunc('second', ts)) -
                epoch(date_trunc('second', lag(ts) OVER w)) AS BIGINT) AS delta_s
    FROM events
    WHERE user_id < 10
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def lead_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag window frame (absent in the reference, SURVEY §2.5): seconds
    since the user's previous event."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    return (
        ev.where(F.col("user_id") < 10)
        .select(
            "event_id",
            "user_id",
            F.lag("event_id").over(w).alias("prev_event_id"),
            (sec - F.lag(sec).over(w)).cast("bigint").alias("delta_s"),
        )
    )


@_register(
    "sessionize_users",
    """
    WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           CAST(sum(new_session) AS BIGINT) AS n_sessions,
           count(*) AS n_events
    FROM flagged
    GROUP BY user_id
    """,
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session flag →
    per-user session count. The batch twin of a streaming session window;
    one shuffle on user_id, no state kept."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(prev)
    flagged = ev.select(
        "user_id",
        F.when(prev.isNull() | (gap_s > 1800), 1).otherwise(0).alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "asof_last_click_before_purchase",
    """
    SELECT p.event_id, p.user_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase' AND user_id < 25) p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_last_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: for each purchase, the user's most recent click
    at-or-before it. Spark has no ASOF JOIN; the scalable form is a union +
    running last_value(ignorenulls) window — one shuffle on user_id, no
    range-explosion, works at any key cardinality (the J4 grid join is the
    reference's closest relative, SURVEY §2.3)."""
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.where(
        (F.col("event_type") == "purchase") | (F.col("event_type") == "click")
    )
    # clicks sort before purchases at equal ts → a same-instant click counts
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", F.col("event_type") == "purchase", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    with_last = tagged.withColumn(
        "last_click", F.last(click_ts, ignorenulls=True).over(w)
    )
    return (
        with_last.where(
            (F.col("event_type") == "purchase") & (F.col("user_id") < 25)
        )
        .select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("last_click", "yyyy-MM-dd HH:mm:ss").alias(
                "last_click_ts"
            ),
        )
    )


@_register(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rnk
    FROM (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               CAST(row_number() OVER (
                   PARTITION BY o_orderpriority
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS INT) AS rnk
        FROM orders
    )
    WHERE rnk <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via rank window — the distributed form of the
    reference's keep-first slicing (A3), generalized to k>1."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rnk")
    )


@_register(
    "set_ops_order_status",
    """
    SELECT 'both' AS segment, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    UNION ALL
    SELECT 'only_f' AS segment, o_custkey FROM (
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def set_ops_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operators (absent in the reference,
    SURVEY §2.6) — planned as left-semi/anti aggregates by Catalyst."""
    o = load_table(spark, sf_dir, "orders")
    f = o.where(F.col("o_orderstatus") == "F").select("o_custkey")
    open_ = o.where(F.col("o_orderstatus") == "O").select("o_custkey")
    both = f.intersect(open_).select(F.lit("both").alias("segment"), "o_custkey")
    only_f = f.subtract(open_).select(  # EXCEPT (set semantics, not exceptAll)
        F.lit("only_f").alias("segment"), "o_custkey"
    )
    return both.unionByName(only_f)


@_register(
    "bag_set_ops_suppliers",
    """
    SELECT 'except_all' AS segment, l_suppkey, count(*) AS n FROM (
        SELECT l_suppkey FROM lineitem WHERE l_linenumber <= 3
        EXCEPT ALL
        SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    ) GROUP BY l_suppkey
    UNION ALL
    SELECT 'intersect_all' AS segment, l_suppkey, count(*) AS n FROM (
        SELECT l_suppkey FROM lineitem WHERE l_linenumber <= 3
        INTERSECT ALL
        SELECT l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    ) GROUP BY l_suppkey
    """,
)
def bag_set_ops_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operators (EXCEPT ALL / INTERSECT ALL —
    multiplicity-aware, unlike set_ops_order_status's DISTINCT forms):
    per-supplier multiset difference/intersection of two lineitem
    slices, aggregated to (value, multiplicity). Catalyst plans
    exceptAll/intersectAll as a tagged union + count aggregation +
    generate — no pairwise matching, one shuffle on the value, scale-safe
    like any groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_linenumber") <= 3).select("l_suppkey")
    b = li.where(F.col("l_returnflag") == "R").select("l_suppkey")

    def counted(df, seg):
        return df.groupBy("l_suppkey").agg(
            F.count(F.lit(1)).alias("n")
        ).select(F.lit(seg).alias("segment"), "l_suppkey", "n")

    return counted(a.exceptAll(b), "except_all").unionByName(
        counted(a.intersectAll(b), "intersect_all")
    )


@_register(
    "spatial_radius_nearest",
    """
    WITH e AS (
        SELECT event_id,
               ('0x' || substr(md5('ev:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 5000 AS x,
               ('0x' || substr(md5('ve:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 5000 AS y
        FROM events
    ), s AS (
        SELECT s_suppkey,
               ('0x' || substr(md5('st:' || CAST(s_suppkey AS VARCHAR)), 1, 8))::BIGINT % 5000 AS x,
               ('0x' || substr(md5('ts:' || CAST(s_suppkey AS VARCHAR)), 1, 8))::BIGINT % 5000 AS y
        FROM supplier
    ), pairs AS (
        SELECT e.event_id,
               (e.x - s.x) * (e.x - s.x) + (e.y - s.y) * (e.y - s.y) AS d2,
               s.s_suppkey
        FROM e JOIN s
          ON (e.x - s.x) * (e.x - s.x) + (e.y - s.y) * (e.y - s.y) <= 40000
    )
    SELECT event_id,
           (min({'d2': d2, 's': s_suppkey})).s AS nearest_station,
           (min({'d2': d2, 's': s_suppkey})).d2 AS d2
    FROM pairs GROUP BY 1
    """,
)
def spatial_radius_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join + nearest-assignment at big×big scale
    (operators/joins.py::radius_join_gridded): grid cells of side r,
    right side exploded to 3×3 neighbor cells, equi-join + exact integer
    distance — never a cross join. Coordinates are md5-derived planar
    integers (cross-engine exact; production swaps in real lat/lon with
    a haversine post-filter, same plan shape). The nearest station per
    event is argmin via a lexicographic struct-min over (d2, s_suppkey)
    — ties on distance break to the lowest station id identically in
    both engines, and the encoding is safe at ANY scale factor (the old
    min(d2·10⁶ + id) integer encode silently corrupted once supplier
    keys reached 10⁶). The DuckDB oracle runs the BRUTE-FORCE theta
    join, so a match also proves the neighbor expansion finds every
    qualifying pair."""
    from .operators.joins import radius_join_gridded

    def coords(df, idc, salt_x, salt_y):
        def h(salt):
            return F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(salt), F.col(idc).cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint"),
                F.lit(5000),
            )

        return df.select(
            F.col(idc), h(salt_x).alias("x"), h(salt_y).alias("y")
        )

    ev = coords(load_table(spark, sf_dir, "events"), "event_id", "ev:", "ve:")
    st = coords(
        load_table(spark, sf_dir, "supplier"), "s_suppkey", "st:", "ts:"
    )
    pairs = radius_join_gridded(
        ev, st, ("event_id", "x", "y"), ("s_suppkey", "x", "y"), radius=200
    )
    best = F.min(
        F.struct(F.col("d2").alias("d2"), F.col("s_suppkey").alias("s"))
    )
    return pairs.groupBy("event_id").agg(
        best.getField("s").alias("nearest_station"),
        best.getField("d2").alias("d2"),
    )


@_register(
    "explode_outer_tokens",
    f"""
    WITH t AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN []::VARCHAR[]
                    ELSE {_NORM_TOKENS_SQL} END AS t
        FROM documents WHERE doc_id % 20 = 0
    )
    SELECT doc_id,
           unnest(CASE WHEN len(t) = 0 THEN [NULL]::VARCHAR[] ELSE t END)
               AS token
    FROM t
    """,
)
def explode_outer_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-preserving explode (explode_outer / LEFT JOIN LATERAL unnest):
    a document with an empty token array keeps its row with token=NULL
    instead of vanishing — the outer-unnest semantics every flattening
    pipeline needs for rows whose nested collection is empty. Empty
    arrays are planted deterministically (doc_id % 7) so the
    distinguishing path actually executes on both engines."""
    from .functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 20 == 0
    )
    toks = F.when(
        F.col("doc_id") % 7 == 0,
        F.array().cast("array<string>"),
    ).otherwise(tokens(F.col("text")))
    return docs.select(
        "doc_id", F.explode_outer(toks).alias("token")
    )


@_register(
    "ngram_topk_vocab",
    """
    WITH toks AS (
        SELECT unnest(list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(lower(trim(text)),
                       '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'),
                   ' '), t -> t <> '')) AS token
        FROM documents
    )
    SELECT token, count(*) AS n
    FROM toks
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 20
    """,
)
def ngram_topk_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: explode tokens → count → ordered limit.
    The 'what's in my training data' query; explode + partial-agg count,
    TakeOrdered for the k rows."""
    from .functions.text import tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


@_register(
    "sql_surface_summary",
    f"""
    SELECT c.c_mktsegment AS segment,
           count(DISTINCT c.c_custkey) AS n_customers,
           count(o.o_orderkey) AS n_orders,
           {_sql_sum('o.o_totalprice')} AS total_price
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
)
def sql_surface_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL surface: tables registered as temp views, query
    written in Spark SQL (not the DataFrame DSL) — proving both frontends
    share the same Catalyst plans."""
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    su = (
        "(CAST(sum(CAST(round((o.o_totalprice) * 100) AS BIGINT)) AS DOUBLE)"
        " / 100.0)"
    )
    return spark.sql(
        f"""
        SELECT c.c_mktsegment AS segment,
               count(DISTINCT c.c_custkey) AS n_customers,
               count(o.o_orderkey) AS n_orders,
               {su} AS total_price
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1
        """
    )


@_register(
    "rolling_3row_avg",
    """
    SELECT event_id, user_id,
           (CAST(sum(CAST(round(value * 100) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
           ) / 100.0 AS rolling_avg_raw,
           round((CAST(sum(CAST(round(value * 100) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
            / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)) / 100.0, 2)
               AS rolling_avg
    FROM events WHERE user_id < 10
    """,
)
def rolling_3row_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-frame rolling aggregate (ROWS BETWEEN 2 PRECEDING AND CURRENT) —
    running mean of the user's last 3 event values. Summed in integer cents
    (window-frame double summation order is engine-specific)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    raw = F.sum(cents).over(w).cast("double") / F.count(F.lit(1)).over(w) / 100.0
    return ev.where(F.col("user_id") < 10).select(
        "event_id",
        "user_id",
        raw.alias("rolling_avg_raw"),
        F.round(raw, 2).alias("rolling_avg"),
    )


@_register(
    "median_value_per_type",
    """
    SELECT event_type,
           round(CAST(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5)
                 AS DOUBLE) / 100.0, 2) AS value_median,
           round(CAST(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.9)
                 AS DOUBLE) / 100.0, 2) AS value_p90
    FROM events
    GROUP BY 1
    """,
)
def median_value_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation) over integer cents —
    Spark percentile() and DuckDB quantile_cont share the linear-interp
    definition; integer inputs keep the interpolation arithmetic identical.
    The approximate sibling for 100 TB is approx_distinct_users'
    percentile_approx (t-digest)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile(cents, F.lit(0.5)).cast("double") / 100.0, 2).alias(
            "value_median"
        ),
        F.round(F.percentile(cents, F.lit(0.9)).cast("double") / 100.0, 2).alias(
            "value_p90"
        ),
    )


@_register(
    "quality_filter_docs",
    """
    WITH q AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(lower(trim(text)),
                       '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'),
                   ' '), t -> t <> '') AS t,
               CAST(length(text) - length(regexp_replace(text, '[\\p{P}]', '', 'g'))
                    AS DOUBLE) / length(text) AS praw
        FROM documents
        WHERE length(text) > 0
    )
    SELECT doc_id, lang,
           round((least(len(t) / 50.0, 1.0)
                + (1.0 - least(praw * 5.0, 1.0))
                + least((len(list_filter(t, x -> x IN ('the','and','of','to','is')))
                         / CAST(len(t) AS DOUBLE)) * 10.0, 1.0)) / 3.0, 4)
               AS quality
    FROM q
    WHERE len(t) > 0
      AND round((least(len(t) / 50.0, 1.0)
                + (1.0 - least(praw * 5.0, 1.0))
                + least((len(list_filter(t, x -> x IN ('the','and','of','to','is')))
                         / CAST(len(t) AS DOUBLE)) * 10.0, 1.0)) / 3.0, 4) >= 0.5
    """,
)
def quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length band + punctuation + stopwords,
    functions/text.py::quality_score) with a keep-threshold — the standard
    pre-training quality gate."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    scored = docs.where(F.length("text") > 0).select(
        "doc_id",
        "lang",
        quality_score(F.col("text")).alias("quality"),
        token_count_ws(F.col("text")).alias("__n"),
    )
    return (
        scored.where((F.col("__n") > 0) & (F.col("quality") >= 0.5))
        .drop("__n")
    )


@_register(
    "skew_safe_distinct_users",
    """
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    """,
)
def skew_safe_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase exact distinct for skewed group keys: phase 1 dedups
    (event_type, user_id) pairs — a UNIFORM shuffle key even when one
    event_type dominates — phase 2 counts per group. Same result as
    count(DISTINCT) but no single reducer sees a whole hot key's values
    (compare distinct_users_per_type, the planner's expand-based form)."""
    ev = load_table(spark, sf_dir, "events")
    pairs = ev.select("event_type", "user_id").distinct()
    return pairs.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_users"))


@_register(
    "shipping_priority_topk",
    """
    SELECT l.l_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_date,
           o.o_orderpriority,
           {S_REV} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-06-15 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """.replace("{S_REV}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → 3-way join → agg → top-k.
    Scale notes: the c_mktsegment filter drops ~80% of customers BEFORE the
    join (Catalyst pushes it below); orders⋈lineitem shuffles on the shared
    orderkey; the final top-10 is TakeOrderedAndProject (no global sort).
    Ties broken by l_orderkey for a deterministic LIMIT."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-06-15 00:00:00").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-15 00:00:00").cast("timestamp_ntz")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            "o_orderpriority",
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2, 4).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@_register(
    "local_supplier_volume",
    """
    SELECT n.n_name, {S_REV} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1
    """.replace("{S_REV}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table star join with a "local supplier" constraint
    (customer and supplier share a nation). region/nation/supplier are
    explicitly broadcast — at 100 TB those dims stay KB-to-MB-sized, so the
    only shuffles left are the two fact joins (orders⋈customer,
    lineitem⋈orders); the nationkey equality is a broadcast-side filter,
    never a shuffle key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy("n_name")
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2, 4).alias(
                "revenue"
            )
        )
    )


@_register(
    "returned_item_customers",
    """
    SELECT c.c_custkey, c.c_name, {S_REV} AS revenue,
           round(c.c_acctbal, 2) AS c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1, 2, 4, 5
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """.replace("{S_REV}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter. Group
    keys include customer attributes (avoids a re-join after the agg);
    nation broadcast; top-20 with custkey tie-break."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy(
            "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal"), "n_name"
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2, 4).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@_register(
    "embedding_centroids",
    f"""
    WITH flat AS (
        SELECT label,
               unnest(generate_series(1, len(embedding))) AS pos,
               CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                    AS BIGINT) AS u
        FROM embeddings
    ),
    dims AS (
        SELECT label, pos,
               {_sql_halfup('sum(u)', 'count(*) * 10')} AS m,
               count(*) AS c
        FROM flat GROUP BY 1, 2
    )
    SELECT label, max(c) AS n_vecs,
           string_agg(CAST(m AS VARCHAR), ',' ORDER BY pos) AS centroid_units
    FROM dims GROUP BY 1
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (the building block of IVF coarse
    quantization and class prototypes). posexplode → per-(label, dim) sum of
    integer micro-units → half-up to 1e-5 units → re-assemble ordered by
    dim. All-integer arithmetic end-to-end, so the centroid string is
    bit-identical across engines. Scale: the shuffle key is (label, dim) —
    |labels|·|dims| cells, uniform; partial sums are map-side combined, so
    vector count never inflates the shuffle."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    flat = emb.select(
        "label", F.posexplode("embedding").alias("pos0", "v")
    ).select(
        "label",
        (F.col("pos0") + 1).alias("pos"),
        _units(F.col("v").cast("double"), 6).alias("u"),
    )
    dims = flat.groupBy("label", "pos").agg(
        _half_up_div(F.sum("u"), F.count(F.lit(1)) * 10).alias("m"),
        F.count(F.lit(1)).alias("c"),
    )
    return dims.groupBy("label").agg(
        F.max("c").alias("n_vecs"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda x: x["m"].cast("string"),
            ),
            ",",
        ).alias("centroid_units"),
    )


@_register(
    "grouping_sets_order_report",
    """
    SELECT o_orderpriority, o_orderstatus,
           GROUPING(o_orderpriority, o_orderstatus) AS gid,
           count(*) AS n, {S_TOT} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """.replace("{S_TOT}", _sql_sum("o_totalprice")),
)
def grouping_sets_order_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube) via the
    SQL surface, with GROUPING() disambiguating the null-key rows. One
    Expand + one aggregation — same physical shape as rollup."""
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING_ID(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
               count(*) AS n, {S_TOT} AS total_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """.replace(
            "{S_TOT}",
            "(CAST(sum(CAST(round((o_totalprice) * 100) AS BIGINT)) AS DOUBLE)"
            " / 100.0)",
        )
    )


@_register(
    "ntile_cume_dist_customers",
    """
    SELECT c_custkey,
           ntile(4) OVER w AS quartile,
           round(cume_dist() OVER w, 6) AS cd,
           round(percent_rank() OVER w, 6) AS pr
    FROM customer
    WINDOW w AS (ORDER BY round(c_acctbal, 2), c_custkey)
    """,
)
def ntile_cume_dist_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (ntile / cume_dist / percent_rank)
    over a global ordering — computed via the SCALABLE two-phase global
    rank (operators/windows.py::scalable_ntile: range-partition + local
    sort + broadcast partition offsets), never a single-reducer
    ``Window.orderBy``. The tie-break on c_custkey makes the order TOTAL,
    so the tie-sensitive distribution functions collapse to rank
    arithmetic: cume_dist = rank/T, percent_rank = (rank-1)/(T-1) —
    exactly the oracle's window-function values."""
    from .operators.windows import scalable_ntile

    from .planmode import checkpoint, is_plan_only

    # c feeds the ntile (quantile + rank + count) AND the cume_dist
    # total below: materialize once (optimization round 8)
    c = checkpoint(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", F.round("c_acctbal", 2).alias("__bal")
        )
    )
    tiled = scalable_ntile(
        c,
        ["__bal", "c_custkey"],
        4,
        tile_col="quartile",
        keep_rank_col="__rk",
        materialize=False,
    )
    total = 100 if is_plan_only() else c.count()
    rk = F.col("__rk")
    pr = (
        F.round((rk - 1) / F.lit(float(total - 1)), 6)
        if total > 1
        else F.lit(0.0)
    )
    return tiled.select(
        "c_custkey",
        "quartile",
        F.round(rk / F.lit(float(total)), 6).alias("cd"),
        pr.alias("pr"),
    )


@_register(
    "campaign_range_join",
    """
    SELECT i.o_orderkey AS campaign, count(*) AS n_items, {S_REV} AS revenue
    FROM (SELECT o_orderkey, o_orderdate FROM orders
          WHERE o_orderkey % 500 = 0) i
    JOIN lineitem l
      ON l.l_shipdate >= i.o_orderdate
     AND l.l_shipdate < i.o_orderdate + INTERVAL 7 DAY
    GROUP BY 1
    """.replace("{S_REV}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def campaign_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: lineitems shipped inside each campaign's 7-day
    window (operators/joins.py::range_join_bucketed). Quantized to weekly
    buckets + equi-join + exact predicate — a hash join with bounded
    replication instead of the O(n·m) nested loop Spark would otherwise
    plan for an inequality join."""
    from .operators.joins import range_join_bucketed

    epoch = F.lit("1970-01-01").cast("date")
    intervals = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 500 == 0)
        .select(
            F.col("o_orderkey").alias("campaign"),
            F.datediff(F.to_date("o_orderdate"), epoch).alias("start_day"),
            (F.datediff(F.to_date("o_orderdate"), epoch) + 7).alias("end_day"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.datediff(F.to_date("l_shipdate"), epoch).alias("ship_day"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
    )
    joined = range_join_bucketed(
        li, intervals, "ship_day", "start_day", "end_day", bucket_days=7
    )
    return joined.groupBy("campaign").agg(
        F.count(F.lit(1)).alias("n_items"),
        _dec_sum(F.col("rev"), 2, 4).alias("revenue"),
    )


@_register(
    "running_revenue_per_customer",
    """
    SELECT o_custkey, o_orderkey,
           (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 100.0)
               AS running_total
    FROM orders WHERE o_custkey < 50
    """,
)
def running_revenue_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative (unbounded-preceding) running total per customer in exact
    integer cents — the classic incremental-frame window aggregate."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return o.select(
        "o_custkey",
        "o_orderkey",
        (F.sum(cents).over(w).cast("double") / 100.0).alias("running_total"),
    )


@_register(
    "promo_revenue_share",
    """
    SELECT p.p_brand,
           {S_PROMO} AS promo_revenue,
           {S_ALL} AS total_revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY 1
    """.replace(
        "{S_PROMO}",
        _sql_sum(
            "CASE WHEN p.p_type LIKE 'PROMO%' "
            "THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END",
            2,
            4,
        ),
    ).replace("{S_ALL}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (CASE inside SUM) over a
    fact⋈dim join. part is the larger kind of dim — small enough to
    broadcast at most scales, and AQE demotes to shuffle join past the
    threshold without a code change; the ship-date filter prunes the fact
    scan (PushedFilters)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .groupBy("p_brand")
        .agg(
            _dec_sum(promo, 2, 4).alias("promo_revenue"),
            _dec_sum(rev, 2, 4).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "semi_join_open_order_customers",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'O')
    """,
)
def semi_join_open_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS → left-semi join (the dual of the J2 anti-join): customers
    holding at least one open order. Semi joins ship only the probe keys —
    the orders side reduces to distinct custkeys before the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


@_register(
    "orders_above_customer_avg",
    """
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS o_totalprice
    FROM orders o
    WHERE o.o_totalprice * 100 > (
        SELECT CAST({A_CENTS} AS DOUBLE)
        FROM orders i WHERE i.o_custkey = o.o_custkey)
    """.replace(
        "{A_CENTS}",
        "avg(CAST(round(i.o_totalprice * 100) AS BIGINT))",
    ),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery ("above this customer's average"),
    decorrelated the way Catalyst itself would: one per-customer aggregate +
    an equi-join back to the fact. Comparison in integer cents so the
    average is engine-stable. At 100 TB the window form
    (avg over (partition by custkey)) is the one-shuffle alternative; the
    agg+join form keeps the fact table un-shuffled when the agg side
    broadcasts."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    per_cust = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg(cents).alias("avg_cents")
    )
    return (
        o.join(per_cust, o.o_custkey == per_cust.k)
        .where(F.col("o_totalprice") * 100 > F.col("avg_cents"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
        )
    )


@_register(
    "json_props_extract",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS k_max,
           CAST(count(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                           THEN 1 END) AS BIGINT) AS n_high
    FROM events
    GROUP BY 1
    """,
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull a typed field out of a JSON string
    column (events.props) and aggregate it. ``from_json`` with an explicit
    schema (vectorized Jackson parse, one pass) rather than per-field
    ``get_json_object`` re-parses. At 100 TB the move is to parse ONCE into
    a struct column at ingest and store it columnar — this query is the
    probe-time form."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
            F.count(F.when(F.col("k") > 50, 1)).alias("n_high"),
        )
    )


@_register(
    "exact_stats_by_type",
    """
    WITH c AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x,
               CAST(json_extract(props, '$.k') AS BIGINT) AS y
        FROM events
    ),
    s AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x*x) AS BIGINT) AS sxx,
               CAST(sum(y*y) AS BIGINT) AS syy,
               CAST(sum(x*y) AS BIGINT) AS sxy
        FROM c GROUP BY 1
    )
    SELECT event_type, n,
           round((CAST(n*sxx - sx*sx AS DOUBLE) / (n*(n-1))) / 10000.0, 4)
               AS value_var,
           round((CAST(n*sxy - sx*sy AS DOUBLE))
                 / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
                    * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS value_k_corr
    FROM s
    """,
)
def exact_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed statistical aggregates made engine-exact: sample variance
    and Pearson correlation from INTEGER moment sums (Σx, Σx², Σxy in
    bigint — order-free), with floating point only in the final closed-form
    division. The stock stddev/corr are float-accumulation and differ
    across engines/partitionings; this form is reproducible anywhere. The
    moment sums are one partial-aggregated pass — same shuffle shape as any
    groupBy."""
    ev = load_table(spark, sf_dir, "events")
    x = F.round(F.col("value") * 100).cast("bigint")
    y = F.from_json(F.col("props"), "k BIGINT")["k"]
    s = ev.select("event_type", x.alias("x"), y.alias("y")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    var = ((n * F.col("sxx") - sx * sx).cast("double") / (n * (n - 1))) / 10000.0
    corr = (n * F.col("sxy") - sx * sy).cast("double") / (
        F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
        * F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    )
    return s.select(
        "event_type",
        "n",
        F.round(var, 4).alias("value_var"),
        F.round(corr, 6).alias("value_k_corr"),
    )


@_register(
    "first_order_per_customer",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS first_date, o_orderpriority
    FROM orders
    QUALIFY row_number() OVER (PARTITION BY o_custkey
                               ORDER BY o_orderdate, o_orderkey) = 1
    """,
)
def first_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin aggregation: each customer's earliest order WITH its payload
    columns, as min(struct(ordering…, payload…)) — one partial-aggregated
    pass, no window sort, no self-join. Struct min compares fields in
    order, so the (date, orderkey) prefix makes ties deterministic. At
    100 TB this beats the row_number window (oracle's form) by skipping the
    per-group sort."""
    o = load_table(spark, sf_dir, "orders")
    packed = F.min(
        F.struct(
            F.col("o_orderdate"), F.col("o_orderkey"), F.col("o_orderpriority")
        )
    ).alias("m")
    return (
        o.groupBy("o_custkey")
        .agg(packed)
        .select(
            "o_custkey",
            F.col("m.o_orderkey").alias("first_orderkey"),
            F.date_format("m.o_orderdate", "yyyy-MM-dd").alias("first_date"),
            F.col("m.o_orderpriority").alias("o_orderpriority"),
        )
    )


@_register(
    "embedding_normalize_hof",
    """
    SELECT vec_id,
           round(sqrt(list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4)
               AS l2_norm,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           round(CAST(list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE)), 'sum') AS DOUBLE)
                 / len(embedding), 6) AS mean_component
    FROM embeddings
    WHERE vec_id < 200
    """,
)
def embedding_normalize_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions as first-class operators (transform /
    filter / aggregate): per-vector L2 norm, positive-component count, and
    component mean — all JVM-side lambdas inside whole-stage codegen, the
    no-UDF path for vector math (functions/vectors.py builds on the same
    primitives)."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 200)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x)
    s = F.aggregate(v, F.lit(0.0), lambda a, x: a + x)
    return emb.select(
        "vec_id",
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0)).alias("n_positive"),
        F.round(s / F.size("embedding"), 6).alias("mean_component"),
    )


@_register(
    "full_outer_nation_presence",
    """
    WITH c AS (SELECT c_nationkey AS nk, count(*) AS n_customers
               FROM customer GROUP BY 1),
         s AS (SELECT s_nationkey AS nk, count(*) AS n_suppliers
               FROM supplier GROUP BY 1)
    SELECT coalesce(c.nk, s.nk) AS nationkey,
           coalesce(CAST(c.n_customers AS BIGINT), 0) AS n_customers,
           coalesce(CAST(s.n_suppliers AS BIGINT), 0) AS n_suppliers
    FROM c FULL OUTER JOIN s ON c.nk = s.nk
    """,
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join (both-sides-preserving): nations having customers,
    suppliers, or either — zero-filled where one side is absent. Aggregate
    first, join the small results: the outer join runs on |nations| rows,
    never on the fact tables."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    return (
        c.join(s, on="nk", how="full_outer")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
    )


@_register(
    "two_nation_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {S_REV} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """.replace("{S_REV}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def two_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension joined twice under different
    roles (supplier's nation vs customer's nation) with a symmetric
    two-nation disjunction. Both nation sides broadcast; the disjunctive
    country filter evaluates on the broadcast rows, so the fact tables
    never shuffle for it."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == s.s_nationkey)
        .join(F.broadcast(n2), F.col("n2_key") == c.c_nationkey)
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2, 4).alias(
                "revenue"
            )
        )
    )


@_register(
    "disjunctive_predicate_revenue",
    """
    SELECT {S_REV} AS revenue, count(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """.replace("{S_REV}", _sql_sum("l.l_extendedprice * (1 - l.l_discount)", 2, 4)),
)
def disjunctive_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctive brand/size/quantity
    ranges across the join. Catalyst extracts the common sub-predicates it
    can push (quantity range union to the lineitem scan, brand/size union
    to the part scan) and evaluates the full disjunction post-join — the
    single-pass OR-of-ANDs no hand-split union of three joins can beat."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), p.p_partkey == li.l_partkey)
        .where(cond)
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2, 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "nation_market_share",
    """
    WITH v AS (
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                    AS BIGINT) AS vol_units,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                               THEN vol_units ELSE 0 END) AS DOUBLE)
                 / CAST(sum(vol_units) AS DOUBLE), 6) AS mkt_share
    FROM v GROUP BY 1
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue per year —
    conditional sum over total sum, both in integer units so the final
    share division is engine-exact. Customer's nation chains to region
    (the selective side); supplier's nation only labels the numerator."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    vol = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    v = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), s.s_suppkey == li.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == F.col("n1_region"))
        .join(F.broadcast(n2), F.col("n2_key") == s.s_nationkey)
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            vol.alias("vol_units"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol_units")).otherwise(
            F.lit(0)
        )
    )
    return v.groupBy("o_year").agg(
        F.round(
            num.cast("double") / F.sum("vol_units").cast("double"), 6
        ).alias("mkt_share")
    )


@_register("hll_sketch_rollup")
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL built into
    Spark ≥3.5): build one user sketch PER DAY per event_type, then
    hll_union_agg merges daily sketches into the period estimate — the
    pre-aggregation pattern that lets 100 TB of daily rollups answer
    any-date-range distinct questions without rescanning raw data.
    Rows-only check (sketch estimates have no SQL twin); accuracy vs exact
    is pinned in tests."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("date"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("distinct_users_est"),
            F.count(F.lit(1)).alias("n_days"),
        )
        .orderBy("event_type")
    )


# =========================================================================
# TPC-H shapes Q4/Q12/Q13/Q18/Q21/Q22, adapted to the slim testdata schema
# (no l_shipmode/l_commitdate/l_receiptdate/c_phone — lateness is posed as
# l_shipdate vs o_orderdate + N days, country code as c_nationkey)
# =========================================================================


@_register(
    "order_priority_exists",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelated to a left-semi join whose
    condition mixes the equi key with a per-row date bound (lateness =
    shipped >60 days after order). The orders date filter prunes before
    the join; the semi join never widens orders rows."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_register(
    "late_shipment_priority",
    """
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts split one joined pass by order
    priority, with the lateness predicate (shipdate vs orderdate + 90d)
    evaluated post-join. The shipdate year-range DOES push to the lineitem
    scan — only the cross-table bound waits for the join."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@_register(
    "customer_order_distribution",
    """
    WITH c_orders AS (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                          AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY 1
    )
    SELECT c_count, count(*) AS custdist
    FROM c_orders GROUP BY 1
    """,
)
def customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT join with a filter INSIDE the join condition
    (customers keep their zero-count row), per-customer count, then a
    second aggregation over the counts. Two shuffles is the floor — the
    first keyed by custkey, the second by the tiny count domain."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    joined = c.join(
        o,
        (F.col("o_custkey") == F.col("c_custkey"))
        & (F.col("o_orderpriority") != "4-NOT SPECIFIED"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_register(
    "large_order_customers",
    """
    WITH big AS (
        SELECT l_orderkey,
               sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_units
        FROM lineitem GROUP BY 1
        HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > 30000
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o.o_totalprice,
           CAST(b.qty_units AS DOUBLE) / 100.0 AS sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-first (per-order quantity total in exact
    integer units), HAVING-prune to the rare big orders, THEN join the
    survivors to orders/customer — the few-row side drives broadcast joins
    instead of shuffling the whole fact table twice."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_units(F.col("l_quantity"), 2)).alias("qty_units"))
        .where(F.col("qty_units") > 30000)
    )
    return (
        F.broadcast(big)
        .join(o, o.o_orderkey == F.col("l_orderkey"))
        .join(c, c.c_custkey == o.o_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            (F.col("qty_units").cast("double") / 100.0).alias("sum_qty"),
        )
    )


@_register(
    "waiting_sole_supplier",
    """
    WITH late AS (
        SELECT l.l_suppkey, l.l_orderkey
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
    )
    SELECT s.s_name, count(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1
    """,
)
def waiting_sole_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-late-supplier double-correlation —
    EXISTS another supplier in the order (semi join) AND NOT EXISTS another
    LATE supplier (anti join). Both probes are distinct (orderkey, suppkey)
    pairs, so the self-joins carry pair-cardinality, not line-cardinality;
    everything shuffles once on l_orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .select("l_suppkey", "l_orderkey")
    )
    all_pairs = (
        li.select(
            F.col("l_orderkey").alias("p_orderkey"), F.col("l_suppkey").alias("p_suppkey")
        ).distinct()
    )
    late_pairs = late.select(
        F.col("l_orderkey").alias("q_orderkey"), F.col("l_suppkey").alias("q_suppkey")
    ).distinct()
    l1 = late.join(
        all_pairs,
        (F.col("p_orderkey") == F.col("l_orderkey"))
        & (F.col("p_suppkey") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        late_pairs,
        (F.col("q_orderkey") == F.col("l_orderkey"))
        & (F.col("q_suppkey") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        l1.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", "numwait")
    )


@_register(
    "inactive_high_balance_customers",
    f"""
    WITH thr AS (
        SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS su,
               count(*) AS cn
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey AS code,
           count(*) AS numcust,
           {_sql_sum('c.c_acctbal')} AS totacctbal
    FROM customer c, thr
    WHERE CAST(round(c.c_acctbal * 100) AS BIGINT) * thr.cn > thr.su
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1
    """,
)
def inactive_high_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balance via a scalar-subquery
    threshold, minus recently-active customers via an anti join. The
    average compare is integer cross-multiplication (bal·n > Σbal) — exact
    in both engines, immune to float-sum ordering right at the boundary.
    The one-row threshold broadcasts; the anti join prunes its orders side
    with the pushed date filter."""
    c = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    thr = c.where(F.col("c_acctbal") > 0).agg(
        F.sum(_units(F.col("c_acctbal"), 2)).alias("su"),
        F.count(F.lit(1)).alias("cn"),
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .where(_units(F.col("c_acctbal"), 2) * F.col("cn") > F.col("su"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy(F.col("c_nationkey").alias("code"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dec_sum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
    )


@_register(
    "forecast_revenue_change",
    f"""
    SELECT {_sql_sum('l_extendedprice * l_discount', 2, 4)} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter-and-sum, zero joins — the canonical
    pushdown benchmark. All four predicates (year range, discount band,
    quantity cap) reach the parquet scan; the plan is scan → partial agg →
    single-row final agg, no shuffle of data rows at all. price·discount
    has exactly 4 decimal digits, so k=4 integer units keep the sum exact
    and order-free."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 2, 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "top_revenue_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS rev_u
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_u AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.rev_u = (SELECT max(rev_u) FROM revenue)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier, keep the max. The
    scalar-subquery max is a global window over the PER-SUPPLIER aggregate
    (one row per supplier, ≪ data) — NOT a broadcast-crossed re-aggregate,
    which plans as a second full lineitem scan: the join side picks up an
    extra isnotnull(l_suppkey) filter, so the two subtrees are no longer
    equal and ReuseExchange cannot deduplicate them. Revenue compares
    happen on exact integer units (price·(1-disc) in 10^-4 units), so
    max-equality keeps ALL tied suppliers — a deterministic set, not an
    arbitrary survivor."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            _units(F.col("l_extendedprice"), 2)
            * (F.lit(100) - _units(F.col("l_discount"), 2))
        ).alias("rev_u")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.withColumn("mx", F.max("rev_u").over(Window.partitionBy()))
        .where(F.col("rev_u") == F.col("mx"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_u").cast("double") / F.lit(10000.0)).alias("total_revenue"),
        )
    )


@_register(
    "small_quantity_revenue",
    """
    WITH pq AS (
        SELECT l.l_partkey, l.l_extendedprice,
               CAST(round(l.l_quantity * 100) AS BIGINT) AS qty_u
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#4'
    ), st AS (
        SELECT l_extendedprice, qty_u,
               sum(qty_u)  OVER (PARTITION BY l_partkey) AS sum_qty_u,
               count(*)    OVER (PARTITION BY l_partkey) AS cnt
        FROM pq
    )
    SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 / 7.0 AS avg_yearly,
           count(*) AS n_small
    FROM st
    WHERE qty_u * 5 * cnt < sum_qty_u
    """,
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines below 20% of their part's average quantity.
    The correlated avg-per-part subquery is a window over l_partkey — one
    shuffle, shared by the compare and the sum. The 0.2·avg threshold is
    integer cross-multiplication (5·qty·cnt < Σqty in 10^-2 units): exact,
    so boundary rows land identically in both engines. The Brand filter
    prunes parts BEFORE the join and broadcasts (~2% of the part table)."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#4")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    w = Window.partitionBy("l_partkey")
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .withColumn("qty_u", _units(F.col("l_quantity"), 2))
        .withColumn("sum_qty_u", F.sum("qty_u").over(w))
        .withColumn("cnt", F.count(F.lit(1)).over(w))
    )
    return (
        joined.where(F.col("qty_u") * 5 * F.col("cnt") < F.col("sum_qty_u"))
        .agg(
            (
                F.sum(_units(F.col("l_extendedprice"), 2)).cast("double")
                / F.lit(100.0)
                / F.lit(7.0)
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        )
    )


@_register(
    "sliding_window_30min",
    f"""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           {_sql_sum('value')} AS value_sum
    FROM (
        SELECT e.event_type, e.value,
               time_bucket(INTERVAL '10 minutes', e.ts)
                   - shifts.s * INTERVAL '10 minutes' AS ws
        FROM events e
        CROSS JOIN (SELECT unnest([0, 1, 2]) AS s) shifts
        WHERE e.ts < TIMESTAMP '2024-01-03 00:00:00'
    )
    GROUP BY 1, 2
    """,
)
def sliding_window_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (30 min length, 10 min slide): every event
    lands in exactly length/slide = 3 windows. Spark's F.window replicates
    rows before the aggregate — the shuffle carries 3× the input, which is
    the true cost of overlap at any scale (pick slide accordingly). The
    oracle derives the same 3 window starts per row arithmetically."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
        .groupBy(F.window("ts", "30 minutes", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("value")).alias("value_sum"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "value_sum",
        )
    )


@_register(
    "nation_product_profit",
    """
    SELECT n.n_name AS nation,
           CAST(year(l.l_shipdate) AS INT) AS o_year,
           CAST(sum(
               CAST(round(l.l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l.l_discount * 100) AS BIGINT))
               - CAST(round(p.p_retailprice * 100) AS BIGINT)
                   * CAST(round(l.l_quantity * 100) AS BIGINT)
           ) AS DOUBLE) / 10000.0 AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    GROUP BY 1, 2
    """,
)
def nation_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table, so supply cost =
    p_retailprice·quantity): profit per (nation, ship-year) with a LIKE
    filter on part name. Plan shape: the LIKE prunes part BEFORE its
    broadcast; supplier→nation resolves as two chained broadcasts; lineitem
    is scanned once, never shuffled until the final small groupBy. Profit
    is exact in 10^-4 integer units (sums stay < 2^53 at bench scale; a
    100 TB deployment sums per-year partitions before the final merge)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    amount_u = _units(F.col("l_extendedprice"), 2) * (
        F.lit(100) - _units(F.col("l_discount"), 2)
    ) - _units(F.col("p_retailprice"), 2) * _units(F.col("l_quantity"), 2)
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("int").alias("o_year"),
        )
        .agg(
            (F.sum(amount_u).cast("double") / F.lit(10000.0)).alias("profit")
        )
    )


@_register(
    "rolling_1h_user_value",
    """
    SELECT event_id,
           user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
               / 100.0 AS sum_1h,
           count(value) OVER w AS n_1h
    FROM events
    WINDOW w AS (
        PARTITION BY user_id
        ORDER BY epoch_us(ts)
        RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def rolling_1h_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per user, the trailing-1-hour sum/count at
    every event (the rows-based sibling is rolling_3row_avg). Ordering is
    on microsecond epoch with a numeric range frame — identical frame
    membership in both engines, immune to sub-second truncation; equal
    timestamps are RANGE peers, so the result is set-deterministic. One
    shuffle on user_id; frames never cross partitions."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
        (F.sum(_units(F.col("value"), 2)).over(w).cast("double") / F.lit(100.0)).alias(
            "sum_1h"
        ),
        F.count("value").over(w).alias("n_1h"),
    )


@_register(
    "string_surface_docs",
    """
    SELECT doc_id,
           regexp_extract(text, '([0-9]+)', 1) AS first_num,
           regexp_extract(text, '([A-Z][a-z]+)', 1) AS first_cap_word,
           length(text) - length(replace(text, '.', '')) AS n_periods,
           upper(substr(text, 1, 12)) AS head_upper,
           CAST(length(text) AS BIGINT) AS n_chars_exact
    FROM documents
    """,
)
def string_surface_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface beyond formatting/matching (SURVEY §2.7
    notes the reference has none): regex capture-group extraction,
    replace-based counting, substring/case ops — all JVM-side codegen'd
    expressions, no UDF, narrow projection with no shuffle. Patterns stay
    in the Java∩RE2 common subset so both engines capture identically."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([0-9]+)", 1).alias("first_num"),
        F.regexp_extract("text", r"([A-Z][a-z]+)", 1).alias("first_cap_word"),
        (
            F.length("text") - F.length(F.replace(F.col("text"), F.lit(".")))
        ).alias("n_periods"),
        F.upper(F.substring("text", 1, 12)).alias("head_upper"),
        F.length("text").cast("bigint").alias("n_chars_exact"),
    )


@_register(
    "supplier_count_by_part_class",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#4'
      AND p.p_type NOT LIKE 'MEDIUM%'
      AND p.p_size IN (1, 4, 9, 14, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def supplier_count_by_part_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: no partsupp, so the part↔supplier bridge
    is the DISTINCT (l_partkey, l_suppkey) projection of lineitem; the
    excluded-supplier predicate is s_acctbal < 0 in place of the comment
    LIKE). Plan order matters at scale: the broadcast semi-filter against
    the pruned part side runs BEFORE the pair-distinct, so the expensive
    distinct shuffle only carries qualifying parts; the exclusion list is
    a broadcast anti join (never a NOT IN literal list)."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#4")
            & ~F.col("p_type").startswith("MEDIUM")
            & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    excl = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    bridge = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(F.broadcast(p.select("p_partkey")), F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .distinct()
    )
    return (
        bridge.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(excl), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "locf_gap_fill",
    """
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
           value,
           last_value(value IGNORE NULLS) OVER (
               PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled
    FROM events
    """,
)
def locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward: null measures inherit the user's
    most recent non-null reading — the streaming-world generalization of
    the reference's null-filled minute grid (J4/P9,
    daily_compile_weather.py:49-56: it leaves gaps as None; LOCF is what a
    consumer of that grid usually wants next). `last(ignorenulls) over a
    growing rows frame` is a single shuffle on user_id, O(1) state per
    row; (ts, event_id) ordering makes the carried value total-order
    deterministic. Leading nulls (no prior observation) stay null."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
        "value",
        F.last("value", ignorenulls=True).over(w).alias("value_filled"),
    )


@_register(
    "unpivot_lineitem_measures",
    """
    SELECT l_orderkey, l_linenumber, measure, value FROM (
        SELECT l_orderkey, l_linenumber,
               'l_quantity' AS measure, l_quantity AS value
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '2000-02-01 00:00:00'
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '2000-02-01 00:00:00'
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '2000-02-01 00:00:00'
    )
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt (the inverse of pivot_type_daily_value): one output
    row per (line, measure). Spark's unpivot is a zero-shuffle Expand node
    — 3× rows, one scan, filter still pushed to parquet; values pass
    through raw so both engines agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("2000-02-01 00:00:00").cast("timestamp_ntz"))
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


def _lsh_cluster_sql() -> str:
    """DuckDB twin of the md5-mode MinHash-LSH banding + star-edge
    connected components (16 hashes, 4 bands, 5-gram shingles)."""
    mins = ",\n               ".join(
        f"min(('0x' || substr(md5(sg || ':{i // 2}'), "
        f"{1 + 15 * (i % 2)}, 15))::BIGINT) AS h{i}"
        for i in range(16)
    )
    bands = "\n        UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws('-', h{o0}, h{o1}, h{o2}, h{o3})"
        " AS bucket FROM sig".format(
            b=b, o0=4 * b, o1=4 * b + 1, o2=4 * b + 2, o3=4 * b + 3
        )
        for b in range(4)
    )
    return f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(lower(trim(text)),
                       '[^\\p{{L}}\\p{{N}}\\s]', ' ', 'g'), '\\s+', ' ', 'g'),
                   ' '), x -> x <> '') AS t
        FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) <= 5 THEN [array_to_string(t, ' ')]
                    ELSE [array_to_string(t[i:i+4], ' ')
                          for i in range(1, len(t) - 3)]
               END AS s
        FROM toks
    ), shingle_rows AS (
        SELECT doc_id, unnest(s) AS sg FROM sh
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM shingle_rows
        GROUP BY doc_id
    ), banded AS (
        {bands}
    ), star AS (
        SELECT doc_id AS u, min(doc_id) OVER (PARTITION BY band, bucket) AS v
        FROM banded
    ), edges AS (
        SELECT DISTINCT u, v FROM star WHERE u <> v
        UNION
        SELECT DISTINCT v, u FROM star WHERE u <> v
    ), reach(node, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT re.node, e.v FROM reach re JOIN edges e ON e.u = re.r
    )
    SELECT node AS doc_id, min(r) AS cluster_id
    FROM reach GROUP BY 1
    """


@_register("lsh_neardup_clusters", _lsh_cluster_sql())
def lsh_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment — the step after pair generation that
    actual dedup needs (keep one doc per group): MinHash(16, md5 mode) →
    4-band LSH buckets → STAR edges (each doc → its bucket's min id; linear
    in bucket size, so no max_bucket cap needed, unlike pair expansion) →
    distributed connected components (ext/graph.py min-label propagation)
    → every document labeled with the min doc_id of its component;
    singletons label themselves. Detector edges chain transitively: A~B,
    B~C places A,C in one cluster even though no band paired them
    directly. The md5 hash mode makes the whole pipeline — including the
    closure, via a recursive CTE — reproducible in any engine."""
    from .ext.dedup_text import lsh_band_buckets
    from .ext.graph import connected_components

    docs = spread(load_table(spark, sf_dir, "documents"))
    banded = lsh_band_buckets(docs, hash_fn="md5")
    star = banded.withColumn(
        "v", F.min("doc_id").over(Window.partitionBy("band", "bucket"))
    ).where(F.col("doc_id") != F.col("v"))
    edges = star.select(
        F.col("doc_id").alias("src"), F.col("v").alias("dst")
    ).distinct()
    comp = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )


# =========================================================================
# Deterministic sampling (training-pipeline extension, ext/sampling.py)
# =========================================================================


@_register(
    "cluster_survivor_selection",
    f"""
    WITH clusters AS ({_lsh_cluster_sql()}),
    m AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CASE WHEN len(string_split(text, ' '))
                         BETWEEN 50 AND 100000
                     AND length(array_to_string(string_split(text, ' '), ''))
                         >= 3 * len(string_split(text, ' '))
                     AND length(array_to_string(string_split(text, ' '), ''))
                         <= 10 * len(string_split(text, ' '))
                     AND len(list_filter(string_split(text, ' '),
                             x -> x LIKE '%#%' OR x LIKE '%...%')) * 10
                         <= len(string_split(text, ' '))
                     AND len(list_filter(string_split(text, ' '),
                             x -> regexp_matches(x, '\\p{{L}}'))) * 10
                         >= len(string_split(text, ' ')) * 8
                    THEN 1 ELSE 0 END AS keep_flag
        FROM documents
    )
    SELECT c.doc_id, c.cluster_id, m.keep_flag, m.n_words,
           CASE WHEN row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY m.keep_flag DESC, m.n_words DESC, c.doc_id ASC
           ) = 1 THEN 1 ELSE 0 END AS is_survivor
    FROM clusters c JOIN m ON m.doc_id = c.doc_id
    """,
)
def cluster_survivor_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware SURVIVOR selection over near-dup clusters — real
    dedup keeps the BEST copy, not the first: every document labeled
    with its MinHash-LSH cluster (the certified star-CC assignment) and
    a deterministic survivor rank per cluster — Gopher keep-flag first,
    then longer documents, then lowest id (a total order). Singleton
    clusters survive themselves; the arrival-order alternative
    (dedup_keep_first) remains for incremental pipelines where
    retroactive replacement is impossible. Composes two certified
    pieces (cluster assignment + quality rules); the oracle replays the
    COMPOSITION including the recursive closure. Per-cluster groups are
    near-dup-cluster-sized (bounded by the detectors' banding), so the
    rank window never meets a corpus-sized group."""
    from .operators.windows import keep_first_rank

    clusters = lsh_neardup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    w = F.split("text", " ")
    keep_flag = (
        F.size(w).between(50, 100000)
        & (F.length(F.array_join(w, "")) >= 3 * F.size(w))
        & (F.length(F.array_join(w, "")) <= 10 * F.size(w))
        & (
            F.size(
                F.filter(w, lambda x: x.contains("#") | x.contains("..."))
            )
            * 10
            <= F.size(w)
        )
        & (
            F.size(F.filter(w, lambda x: x.rlike(r"\p{L}"))) * 10
            >= F.size(w) * 8
        )
    ).cast("int")
    m = docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        keep_flag.alias("keep_flag"),
    )
    joined = clusters.join(m, on="doc_id")
    wr = Window.partitionBy("cluster_id").orderBy(
        F.col("keep_flag").desc(), F.col("n_words").desc(), F.col("doc_id").asc()
    )
    return joined.select(
        "doc_id",
        "cluster_id",
        "keep_flag",
        "n_words",
        (F.row_number().over(wr) == 1).cast("int").alias("is_survivor"),
    )


@_register(
    "hash_split_docs",
    f"""
    SELECT doc_id, lang, {_split_sql('doc_id')} AS split
    FROM documents
    """,
)
def hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted md5 of
    doc_id — shuffle-free, rerun-stable, append-stable (new docs never
    reshuffle old assignments), and reproducible by any engine with md5.
    The per-row decision composes with downstream plans as a plain
    projection."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return hash_split(docs, "doc_id")


@_register(
    "stratified_sample_docs",
    f"""
    SELECT doc_id, lang
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':sample'), 1, 2)
          < CASE WHEN lang = 'en' THEN '{_hex_thresh(0.25)}' ELSE 'zz' END
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: keep 25% of the dominant
    language, 100% of the rest — corpus rebalancing as a pure hash filter
    (no RNG state, no sampleBy non-determinism), pushed down past any
    later joins on the same table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_hash_sample(docs, "doc_id", "lang", {"en": 0.25})


# =========================================================================
# Sequence shaping + quantization (training-pipeline extensions,
# ext/sequencing.py / ext/quantize.py)
# =========================================================================

@_register(
    "pack_sequences_512",
    f"""
    WITH t AS (
        SELECT doc_id, len({_WS_TOKENS_SQL}) AS n_tokens
        FROM documents
    ), p AS (
        SELECT doc_id, n_tokens,
               COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS tokens_before
        FROM t
    )
    SELECT CAST(tokens_before // 512 AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
           min(doc_id) AS first_doc
    FROM p GROUP BY 1
    """,
)
def pack_sequences_512(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in doc_id order,
    cut every 512 tokens, assign each doc to the sequence its first token
    lands in (ext/sequencing.py::pack_sequences). The running token count
    is the scalable prefix sum (range partition + broadcast offsets) —
    never a single-reducer global window; the oracle's window cumsum is
    the semantic reference."""
    from .ext.sequencing import pack_sequences

    docs = spread(load_table(spark, sf_dir, "documents"))
    counted = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != "")
        ).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(counted, "n_tokens", budget=512)
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


@_register(
    "chunk_docs_overlap",
    """
    WITH starts AS (
        SELECT doc_id, text,
               unnest(generate_series(1, greatest(length(text), 1), 90)) AS s
        FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) // 90 AS BIGINT) AS chunk_idx,
           CAST(length(substr(text, CAST(s AS BIGINT), 120)) AS BIGINT)
               AS chunk_len,
           md5(substr(text, CAST(s AS BIGINT), 120)) AS chunk_hash
    FROM starts
    """,
)
def chunk_docs_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size chunking (size 120 chars, stride 90 → 30-char
    overlap) — the retrieval/fine-tuning document splitter
    (ext/sequencing.py::chunk_documents). Narrow plan: generated start
    array → explode → substring, zero shuffles. Chunks are compared by
    md5 so the oracle diff stays small."""
    from .ext.sequencing import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs, "text", size=120, stride=90)
    return ch.select(
        "doc_id",
        "chunk_idx",
        F.length("chunk").cast("bigint").alias("chunk_len"),
        F.md5(F.col("chunk")).alias("chunk_hash"),
    )


@_register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_NORM_TOKENS_SQL}) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
    ), dfr AS (
        SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1
    ), scored AS (
        SELECT t.doc_id, t.token, CAST(t.tf AS BIGINT) AS tf,
               CAST(d.doc_freq AS BIGINT) AS doc_freq,
               CAST({_sql_halfup('t.tf * 1000000', 'd.doc_freq')} AS BIGINT)
                   AS score_units
        FROM tf t JOIN dfr d USING (token)
    )
    SELECT doc_id, token, tf, doc_freq, score_units, rn FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score_units DESC, token ASC) AS rn
        FROM scored
    ) WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by a tf-idf-style score.
    The score is the exact rational tf/doc_freq in 1e-6 units (integer
    half-up arithmetic) rather than tf·log(N/df): cross-engine log() is
    not bit-reproducible, and the rational form preserves the same
    rarity-weighted ranking for fixed N. Two aggregations (per-doc tf,
    per-token df), one shuffle join on token, then a per-doc top-k window
    (partitioned by doc_id — no global sort)."""
    from .functions.text import tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(_tokens(F.col("text"))).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfr = tf.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    scored = tf.join(dfr, "token").withColumn(
        "score_units",
        _half_up_div(F.col("tf") * F.lit(1000000).cast("bigint"), F.col("doc_freq")),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_units").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "token", "tf", "doc_freq", "score_units", "rn")
    )


@_register(
    "datetime_surface_orders",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN dayofweek(o_orderdate) IN (0, 6)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_weekend,
           strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS first_order,
           strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_order,
           CAST(min(day(last_day(o_orderdate))) AS BIGINT) AS days_in_month
    FROM orders
    GROUP BY 1
    """,
)
def datetime_surface_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar surface (SURVEY §2.7 F1/F2/F5/F7 generalized):
    month truncation, day-of-week classification, month-end arithmetic,
    min/max formatting — all built-in Column functions, one scan + one
    grouped agg. Cross-engine care: Spark dayofweek is 1=Sunday..7=Saturday
    while DuckDB's is 0=Sunday..6=Saturday (weekend = {1,7} vs {0,6});
    timestamps leave as formatted strings per the registry's determinism
    rules."""
    orders = load_table(spark, sf_dir, "orders")
    ts = F.col("o_orderdate")
    return (
        orders.groupBy(
            F.date_format(F.date_trunc("month", ts), "yyyy-MM").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.dayofweek(ts).isin(1, 7), 1).otherwise(0))
            .cast("bigint")
            .alias("n_weekend"),
            F.date_format(F.min(ts), "yyyy-MM-dd HH:mm:ss").alias("first_order"),
            F.date_format(F.max(ts), "yyyy-MM-dd HH:mm:ss").alias("last_order"),
            F.min(F.dayofmonth(F.last_day(ts))).cast("bigint").alias(
                "days_in_month"
            ),
        )
    )


@_register(
    "array_setops_doc_halves",
    f"""
    WITH t AS (
        SELECT doc_id, {_NORM_TOKENS_SQL} AS toks FROM documents
    ), h AS (
        SELECT doc_id, toks, len(toks) // 2 AS half, len(toks) AS n FROM t
    ), ab AS (
        SELECT doc_id,
               list_distinct(toks[1:half]) AS da,
               list_distinct(toks[half+1:n]) AS db
        FROM h
    )
    SELECT doc_id,
           CAST(len(da) AS BIGINT) AS n_distinct_a,
           CAST(len(db) AS BIGINT) AS n_distinct_b,
           CAST(len(list_intersect(da, db)) AS BIGINT) AS n_shared,
           CAST(len(list_filter(da, x -> NOT list_contains(db, x)))
               AS BIGINT) AS n_only_a,
           CAST(CASE WHEN len(list_distinct(list_concat(da, db))) > 0 THEN
               {_sql_halfup('len(list_intersect(da, db)) * 1000000',
                            'len(list_distinct(list_concat(da, db)))')}
           ELSE 0 END AS BIGINT) AS jaccard_units
    FROM ab
    """,
)
def array_setops_doc_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set-operation surface (intersect/except/union/distinct/slice):
    split each document's token array in half and measure vocabulary
    overlap between the halves — a narrow, shuffle-free self-similarity
    signal (repetitive docs score high; also a cheap template detector).
    Sizes and an integer-unit Jaccard only — the set results themselves
    have engine-specific ordering, so they never leave the expression."""
    from .functions.text import tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    half = F.floor(n / 2).cast("int")
    da = F.array_distinct(F.slice(toks, F.lit(1), half))
    db = F.array_distinct(F.slice(toks, half + F.lit(1), n - half))
    with_ab = docs.select("doc_id", da.alias("da"), db.alias("db"))
    shared = F.size(F.array_intersect(F.col("da"), F.col("db"))).cast("bigint")
    uni = F.size(F.array_union(F.col("da"), F.col("db"))).cast("bigint")
    return with_ab.select(
        "doc_id",
        F.size("da").cast("bigint").alias("n_distinct_a"),
        F.size("db").cast("bigint").alias("n_distinct_b"),
        shared.alias("n_shared"),
        F.size(F.array_except(F.col("da"), F.col("db")))
        .cast("bigint")
        .alias("n_only_a"),
        F.when(
            uni > 0,
            _half_up_div(shared * F.lit(1000000).cast("bigint"), uni),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("jaccard_units"),
    )


@_register(
    "embedding_quantize_error",
    """
    WITH flat AS (
        SELECT vec_id, label,
               unnest(generate_series(1, len(embedding))) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ), stats AS (
        SELECT pos, min(x) AS mn, max(x) AS mx FROM flat GROUP BY 1
    ), coded AS (
        SELECT f.label, f.x, s.mn, s.mx,
               CASE WHEN s.mx > s.mn THEN
                   CAST(least(greatest(
                       floor(((f.x - s.mn) * 255.0) / (s.mx - s.mn)),
                       0), 255) AS INTEGER)
               ELSE 0 END AS code
        FROM flat f JOIN stats s USING (pos)
    )
    SELECT label,
           count(*) AS n_elems,
           CAST(sum(code) AS BIGINT) AS total_code,
           CAST(sum(CASE WHEN code IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT)
               AS n_saturated,
           max(abs(x - (mn + (CAST(code AS DOUBLE) * (mx - mn)) / 255.0)))
               AS max_abs_err
    FROM coded GROUP BY 1
    """,
)
def embedding_quantize_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus
    (ext/quantize.py::quantize_int8) with per-label fidelity stats. Every
    step is pure IEEE double arithmetic, so codes AND reconstruction
    errors are bit-identical to the oracle — the summary sticks to
    max/count/integer totals (a float SUM would be accumulation-order-
    dependent). max_abs_err is bounded by the dimension's quantization
    step, which the pytest asserts."""
    from .ext.quantize import quantize_int8

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_int8(emb, carry_cols=("label",))
    return q.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_elems"),
        F.sum("code").cast("bigint").alias("total_code"),
        F.sum(F.when(F.col("code").isin(0, 255), 1).otherwise(0))
        .cast("bigint")
        .alias("n_saturated"),
        F.max("abs_err").alias("max_abs_err"),
    )


@_register(
    "profile_orders",
    """
    WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od,
               nullif(o_orderstatus, 'O') AS status_nullable
        FROM orders
    )
    SELECT 'o_orderkey' AS "column", count(*) AS n_rows,
           count(*) - count(o_orderkey) AS n_nulls,
           count(DISTINCT o_orderkey) AS n_distinct,
           CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           CAST(max(o_orderkey) AS VARCHAR) AS max_s FROM src
    UNION ALL
    SELECT 'o_custkey', count(*), count(*) - count(o_custkey),
           count(DISTINCT o_custkey),
           CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(*) - count(o_orderstatus),
           count(DISTINCT o_orderstatus), min(o_orderstatus), max(o_orderstatus)
    FROM src
    UNION ALL
    SELECT 'o_orderpriority', count(*), count(*) - count(o_orderpriority),
           count(DISTINCT o_orderpriority), min(o_orderpriority),
           max(o_orderpriority) FROM src
    UNION ALL
    SELECT 'o_totalprice_cents', count(*), count(*) - count(cents),
           count(DISTINCT cents),
           CAST(min(cents) AS VARCHAR), CAST(max(cents) AS VARCHAR) FROM src
    UNION ALL
    SELECT 'o_orderdate', count(*), count(*) - count(od),
           count(DISTINCT od), min(od), max(od) FROM src
    UNION ALL
    SELECT 'status_nullable', count(*), count(*) - count(status_nullable),
           count(DISTINCT status_nullable), min(status_nullable),
           max(status_nullable) FROM src
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile (ext/profiling.py): null counts, exact
    distinct cardinalities, and ranges for seven orders columns in ONE
    scan (Catalyst's Expand rewrite of multi-count-distinct), where the
    oracle needs seven. `status_nullable` exercises the null-counting
    path (nullif creates real nulls); doubles are profiled as cents
    units, timestamps as sortable formatted strings."""
    orders = load_table(spark, sf_dir, "orders")
    specs = [
        ("o_orderkey", F.col("o_orderkey")),
        ("o_custkey", F.col("o_custkey")),
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_orderpriority", F.col("o_orderpriority")),
        ("o_totalprice_cents", F.round(F.col("o_totalprice") * 100).cast("bigint")),
        ("o_orderdate", F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")),
        ("status_nullable", F.nullif(F.col("o_orderstatus"), F.lit("O"))),
    ]
    return profile_columns(orders, specs)


@_register(
    "histogram_totalprice",
    """
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    )
    SELECT cents // 50000 AS bin,
           (cents // 50000) * 50000 AS bin_lo_units,
           count(*) AS n
    FROM c GROUP BY 1
    """,
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram (operators/aggregates.py::
    equi_width_histogram): $500 bins over order totals via a
    partial-aggregable groupBy on exact floor-divided cents — the
    map-side combine means the shuffle moves |bins| rows per task
    regardless of table size. The profiler's distribution pane and the
    input to skew detection."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return equi_width_histogram(orders, cents, 50000)


@_register(
    "weighted_sample_docs",
    f"""
    SELECT doc_id, n_chars,
           {weighted_sample_sql('doc_id', 'n_chars', 100)} AS priority_units
    FROM documents
    ORDER BY priority_units DESC, doc_id
    LIMIT 100
    """,
)
def weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weight-proportional sampling (ext/sampling.py::
    weighted_sample — priority sampling, Duffield/Lund/Thorup): top-100
    documents by exact-integer priority w/u with a content-hashed u.
    Longer documents are proportionally likelier, membership is a pure
    function of content (stable across reruns/appends), and the plan is
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return weighted_sample(
        docs, "doc_id", F.col("n_chars"), 100, tiebreak="doc_id"
    ).select("doc_id", "n_chars", "priority_units")


@_register(
    "ewma_user_value",
    f"""
    WITH r AS (
        SELECT event_id, user_id,
               CAST(round(value * 100) AS BIGINT) AS u,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS rn
        FROM events
    ), j AS (
        SELECT r1.event_id, r1.user_id,
               sum(r2.u * (1 << (7 - (r1.rn - r2.rn)))) AS num,
               sum(1 << (7 - (r1.rn - r2.rn))) AS den,
               count(*) AS n_window
        FROM r r1 JOIN r r2
          ON r1.user_id = r2.user_id AND r2.rn BETWEEN r1.rn - 7 AND r1.rn
        GROUP BY 1, 2
    )
    SELECT event_id, user_id,
           CAST({_sql_halfup('num', 'den')} AS BIGINT) AS ewma_units,
           CAST(n_window AS INTEGER) AS n_window
    FROM j
    """,
)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic EWMA (ext/timeseries.py): per-user exponential smoothing of
    event values over the trailing 8 rows, decay 1/2 per step, in exact
    integer arithmetic (every weight a power of two). Spark computes it
    with ONE window shuffle + array HOFs; the oracle uses an O(depth·n)
    self-join — same integers, since round_half_up(num/den) is invariant
    under the 2^(8-n) common scaling between the two weight layouts."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    out = dyadic_ewma(ev, "user_id", [F.col("ts"), F.col("event_id")], cents)
    return out.select("event_id", "user_id", "ewma_units", "n_window")


@_register(
    "winsorize_event_values",
    """
    WITH b AS (
        SELECT event_type,
               quantile_cont(CAST(round(value * 100) AS BIGINT), 0.05) AS plo,
               quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95) AS phi
        FROM events GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           greatest(least(CAST(CAST(round(e.value * 100) AS BIGINT) AS DOUBLE),
                          b.phi), b.plo) AS w_units,
           CAST(CASE WHEN CAST(CAST(round(e.value * 100) AS BIGINT) AS DOUBLE)
                          < b.plo
                       OR CAST(CAST(round(e.value * 100) AS BIGINT) AS DOUBLE)
                          > b.phi
                THEN 1 ELSE 0 END AS INTEGER) AS is_clipped
    FROM events e JOIN b USING (event_type)
    """,
)
def winsorize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization (operators/aggregates.py::winsorize): clip
    event values to their type's [p05, p95] — the standard outlier gate
    before training statistics. The tiny per-type bound table
    broadcast-joins back onto the facts (no second shuffle of the big
    side). Clipped values stay un-rounded doubles: the interpolation
    arithmetic is engine-identical on integer-cent inputs, and no float
    ever passes through an order-dependent SUM."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    out = winsorize(ev, ["event_type"], cents, out_col="w_units")
    # a row was clipped iff winsorization changed its value
    return out.select(
        "event_id",
        "event_type",
        "w_units",
        (F.col("w_units") != cents.cast("double"))
        .cast("int")
        .alias("is_clipped"),
    )


@_register(
    "snapshot_diff_orders",
    """
    WITH old AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS status, o_orderpriority AS prio
        FROM orders
    ), new AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT)
                   + CASE WHEN o_orderkey % 101 = 0 THEN 500 ELSE 0 END
                   AS cents,
               o_orderstatus AS status, o_orderpriority AS prio
        FROM orders WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 100000000,
               CAST(round(o_totalprice * 100) AS BIGINT),
               o_orderstatus, o_orderpriority
        FROM orders WHERE o_orderkey % 89 = 0
    ), d AS (
        SELECT coalesce(o.k, n.k) AS k,
               CASE WHEN o.k IS NULL THEN 'added'
                    WHEN n.k IS NULL THEN 'removed'
                    WHEN o.cents IS DISTINCT FROM n.cents
                      OR o.status IS DISTINCT FROM n.status
                      OR o.prio IS DISTINCT FROM n.prio THEN 'changed'
                    ELSE 'unchanged' END AS change_type,
               CASE WHEN o.k IS NOT NULL AND n.k IS NOT NULL THEN
                   array_to_string(list_sort(list_filter([
                       CASE WHEN o.cents IS DISTINCT FROM n.cents
                            THEN 'cents' END,
                       CASE WHEN o.status IS DISTINCT FROM n.status
                            THEN 'status' END,
                       CASE WHEN o.prio IS DISTINCT FROM n.prio
                            THEN 'prio' END],
                       x -> x IS NOT NULL)), ',')
               ELSE '' END AS changed_cols_s
        FROM old o FULL OUTER JOIN new n ON o.k = n.k
    )
    SELECT change_type, changed_cols_s,
           count(*) AS n, CAST(sum(k) AS BIGINT) AS key_sum
    FROM d WHERE change_type <> 'unchanged'
    GROUP BY 1, 2
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot reconciliation (operators/diff.py::
    snapshot_diff): the 'new' snapshot is the orders table with
    deterministic simulated deletes (key%97), updates (+$5 on key%101),
    and inserts (key%89 re-keyed) — the diff classifies every key and
    names the changed columns. One shuffle per side on the key; zero if
    both snapshots were written bucketed by it."""
    from .operators.diff import snapshot_diff

    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.select(
        F.col("o_orderkey").alias("k"),
        cents.alias("cents"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    )
    new = (
        base.where(F.col("k") % 97 != 0)
        .withColumn(
            "cents",
            F.col("cents")
            + F.when(F.col("k") % 101 == 0, F.lit(500)).otherwise(F.lit(0)),
        )
        .unionByName(
            base.where(F.col("k") % 89 == 0).withColumn(
                "k", F.col("k") + F.lit(100000000)
            )
        )
    )
    d = snapshot_diff(base, new, ["k"], ["cents", "status", "prio"])
    return d.groupBy(
        "change_type",
        F.array_join("changed_cols", ",").alias("changed_cols_s"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").cast("bigint").alias("key_sum"),
    )


@_register(
    "scd2_user_status",
    """
    WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), chg AS (
        SELECT user_id, event_type, ts, event_id
        FROM o WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           coalesce(strftime(lead(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id),
               '%Y-%m-%d %H:%M:%S'), '') AS valid_to,
           CAST(CASE WHEN lead(ts) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
               THEN 1 ELSE 0 END AS INTEGER) AS is_current
    FROM chg
    """,
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension assembly (operators/scd.py::scd2_from_changes):
    collapse each user's event-type stream into validity intervals —
    consecutive duplicate values merge into one run, each run stamped
    [valid_from, valid_to) with the open run flagged current. One
    key-partitioned sort drives both window passes."""
    from .operators.scd import scd2_from_changes

    ev = load_table(spark, sf_dir, "events")
    out = scd2_from_changes(
        ev, "user_id", [F.col("ts"), F.col("event_id")], ["event_type"]
    )
    return out.select(
        "user_id",
        "event_type",
        F.date_format("valid_from_0", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format("valid_to_0", "yyyy-MM-dd HH:mm:ss"), F.lit("")
        ).alias("valid_to"),
        F.col("is_current").cast("int").alias("is_current"),
    )


@_register(
    "session_window_native",
    """
    WITH o AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS u,
               CASE WHEN ts - lag(ts) OVER
                        (PARTITION BY user_id ORDER BY ts, event_id)
                        < INTERVAL 30 MINUTE
                    THEN 0 ELSE 1 END AS brk
        FROM events
    ), g AS (
        SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events,
           CAST(sum(u) AS BIGINT) AS value_cents
    FROM g GROUP BY user_id, sid
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap) as a batch
    groupBy — the same merge semantics Structured Streaming uses for
    stateful sessionization (streaming/stateful.py), here verified
    against a gaps-and-islands oracle. Events whose gap equals the
    timeout start a NEW session (half-open [ts, ts+gap) ranges)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    agg = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents).cast("bigint").alias("value_cents"),
    )
    return agg.select(
        "user_id",
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
        "value_cents",
    )


@_register(
    "standardize_event_values",
    """
    WITH u AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS u
        FROM events
    ), m AS (
        SELECT event_type, count(*) AS n,
               CAST(sum(u) AS BIGINT) AS su,
               CAST(sum(u * u) AS BIGINT) AS sq
        FROM u GROUP BY 1
    )
    SELECT e.event_id, e.event_type,
           CASE WHEN m.n * m.sq - m.su * m.su > 0 THEN
               CAST(e.u * m.n - m.su AS DOUBLE)
                   / sqrt(CAST(m.n * m.sq - m.su * m.su AS DOUBLE))
           ELSE 0.0 END AS z
    FROM u e JOIN m USING (event_type)
    """,
)
def standardize_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score feature standardization (operators/
    aggregates.py::standardize): z = (x*n - su)/sqrt(n*sq - su^2) keeps
    every intermediate an exact integer, so the one sqrt and one divide
    are bit-identical across engines — no float mean/std ever
    materializes. Moment table broadcasts back; facts shuffle once for
    the groupBy and never again."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    out = standardize(ev, ["event_type"], cents, out_col="z")
    return out.select("event_id", "event_type", "z")


@_register("heavy_hitters_tokens")
def heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus tokens by Misra-Gries estimate (ext/
    heavy_hitters.py): per-partition mergeable summaries cap the shuffle
    at k rows per partition regardless of vocabulary size — the
    approximate sibling of the exact ngram_topk_vocab. Rows-only check:
    estimates depend on partition boundaries (always within n/k of
    truth — pytest pins the bound); no SQL oracle can reproduce them."""
    from .ext.heavy_hitters import heavy_hitters
    from .functions.text import tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(F.explode(_tokens(F.col("text"))).alias("token"))
    return heavy_hitters(toks, "token", 200, top=50)


@_register(
    "conditional_surface_orders",
    """
    WITH s AS (
        SELECT o_orderstatus AS status,
               nullif(o_orderstatus, 'O') AS s_null,
               coalesce(nullif(o_orderpriority, '1-URGENT'), 'DEFAULTED')
                   AS prio_d,
               least(o_orderkey % 7, o_custkey % 7) AS lo,
               greatest(o_orderkey % 7, o_custkey % 7) AS hi
        FROM orders
    )
    SELECT status,
           count(*) AS n,
           count(s_null) AS n_not_o,
           CAST(sum(CASE WHEN s_null IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS nvl2_sum,
           count(DISTINCT prio_d) AS n_prio_kinds,
           CAST(sum(CASE WHEN prio_d = 'DEFAULTED' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_defaulted,
           CAST(sum(lo) AS BIGINT) AS sum_lo,
           CAST(sum(hi) AS BIGINT) AS sum_hi
    FROM s GROUP BY 1
    """,
)
def conditional_surface_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/null-handling scalar surface (nullif, coalesce, nvl2,
    least, greatest) — the SQL-dialect corner every migrating user hits
    first, pinned against the oracle. least/greatest run on modular key
    arithmetic; nvl2 maps to the oracle's CASE (DuckDB lacks it)."""
    orders = load_table(spark, sf_dir, "orders")
    s_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    prio_d = F.coalesce(
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")),
        F.lit("DEFAULTED"),
    )
    lo = F.least(F.col("o_orderkey") % 7, F.col("o_custkey") % 7)
    hi = F.greatest(F.col("o_orderkey") % 7, F.col("o_custkey") % 7)
    return (
        orders.select(
            F.col("o_orderstatus").alias("status"),
            s_null.alias("s_null"),
            prio_d.alias("prio_d"),
            lo.alias("lo"),
            hi.alias("hi"),
            F.nvl2(s_null, F.lit(1), F.lit(0)).alias("nvl2_v"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("s_null").alias("n_not_o"),
            F.sum("nvl2_v").cast("bigint").alias("nvl2_sum"),
            F.count_distinct("prio_d").alias("n_prio_kinds"),
            F.sum((F.col("prio_d") == "DEFAULTED").cast("int"))
            .cast("bigint")
            .alias("n_defaulted"),
            F.sum("lo").cast("bigint").alias("sum_lo"),
            F.sum("hi").cast("bigint").alias("sum_hi"),
        )
    )


@_register(
    "window_value_surface",
    f"""
    WITH rev AS (
        SELECT o_orderstatus AS status, o_orderpriority AS prio,
               nullif(o_orderpriority, '1-URGENT') AS prio_n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev
        FROM orders GROUP BY 1, 2, 3
    )
    SELECT status, prio,
           rank() OVER w AS rnk,
           first_value(prio) OVER w AS first_prio,
           nth_value(prio, 2) OVER w AS second_prio,
           last_value(prio) OVER (PARTITION BY status
               ORDER BY prio_n NULLS LAST, prio
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_prio,
           CAST({_sql_halfup('rev * 1000000',
                             'sum(rev) OVER (PARTITION BY status)')}
               AS BIGINT) AS share_units
    FROM rev
    WINDOW w AS (PARTITION BY status ORDER BY prio_n NULLS LAST, prio)
    """,
)
def window_value_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window value-function surface (first_value / nth_value /
    last_value with an explicit full frame / rank / ratio-to-report) over
    a nullable sort key with PINNED null placement — Spark defaults to
    NULLS FIRST for ASC where DuckDB defaults to NULLS LAST, the classic
    silent migration bug; asc_nulls_last makes both engines agree.
    nth_value(2) runs on the default growing frame (NULL until two rows),
    last_value on the explicit unbounded frame (the default frame would
    just echo the current row). The share is an exact integer
    ratio-to-report against an unordered partition total."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    rev = (
        orders.select(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderpriority").alias("prio"),
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias(
                "prio_n"
            ),
            cents.alias("c"),
        )
        .groupBy("status", "prio", "prio_n")
        .agg(F.sum("c").cast("bigint").alias("rev"))
    )
    w = Window.partitionBy("status").orderBy(
        F.col("prio_n").asc_nulls_last(), F.col("prio")
    )
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_total = Window.partitionBy("status")
    return rev.select(
        "status",
        "prio",
        F.rank().over(w).alias("rnk"),
        F.first_value(F.col("prio")).over(w).alias("first_prio"),
        F.nth_value(F.col("prio"), 2).over(w).alias("second_prio"),
        F.last_value(F.col("prio")).over(w_full).alias("last_prio"),
        _half_up_div(
            F.col("rev") * F.lit(1000000).cast("bigint"),
            F.sum("rev").over(w_total),
        ).alias("share_units"),
    )


@_register(
    "asof_next_purchase_after_click",
    """
    SELECT c.event_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click' AND user_id < 25) c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def asof_next_purchase_after_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (operators/joins.py::asof_join_forward): for
    each click, the user's NEXT purchase at-or-after it — conversion-lag
    analysis, the mirror of asof_last_click_before_purchase. Same
    union + forward-frame first(ignorenulls) shape: one shuffle on
    user_id, no range explosion."""
    from .operators.joins import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where((F.col("event_type") == "click") & (F.col("user_id") < 25))
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts")
    )
    out = asof_join_forward(
        clicks, purchases, ["user_id"], "ts", "p_ts", right_cols=[]
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "next_purchase_ts"
        ),
    )


@_register(
    "peak_concurrency_by_type",
    """
    WITH d AS (
        SELECT event_type, ts AS t, 1 AS delta FROM events
        UNION ALL
        SELECT event_type, ts + INTERVAL 30 MINUTE, -1 FROM events
    ), r AS (
        SELECT event_type,
               sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                                ROWS UNBOUNDED PRECEDING) AS running
        FROM d
    )
    SELECT event_type, CAST(max(running) AS BIGINT) AS peak_concurrency,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals
    FROM r GROUP BY 1
    """,
)
def peak_concurrency_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval algebra: each event holds a 30-min half-open
    interval; +1/-1 deltas sorted by (time, delta) — ends before starts
    at the same instant, so touching intervals don't overlap — and a
    running sum whose max is the peak concurrency per type. The max is
    order-independent within equal (t, delta) ties, so no further
    tie-break is needed. One shuffle; the 100 TB form partitions the
    sweep by key exactly like this."""
    ev = load_table(spark, sf_dir, "events")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = (
        starts.unionByName(ends)
        .withColumn("running", F.sum("delta").over(w))
    )
    return running.groupBy("event_type").agg(
        F.max("running").cast("bigint").alias("peak_concurrency"),
        (F.count(F.lit(1)) / 2).cast("bigint").alias("n_intervals"),
    )


@_register(
    "mad_outliers_by_type",
    """
    WITH u AS (
        SELECT event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS u
        FROM events
    ), med AS (
        SELECT event_type, quantile_cont(u, 0.5) AS med
        FROM u GROUP BY 1
    ), mad AS (
        SELECT u.event_type,
               quantile_cont(abs(CAST(u.u AS DOUBLE) - m.med), 0.5) AS mad
        FROM u JOIN med m USING (event_type) GROUP BY 1, m.med
    )
    SELECT u.event_type, m.med, d.mad,
           CAST(sum(CASE WHEN abs(CAST(u.u AS DOUBLE) - m.med)
                              > 3.0 * 1.4826 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM u JOIN med m USING (event_type) JOIN mad d USING (event_type)
    GROUP BY 1, 2, 3
    """,
)
def mad_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: median absolute deviation per group and
    the |x - med| > 3·1.4826·MAD count — the estimator winsorization
    can't give you when the tails are heavy enough to drag the
    percentiles themselves. Integer cents keep both quantile
    interpolations exact-half results, so med/MAD/counts are
    bit-identical cross-engine. Two tiny broadcast joins back; the facts
    shuffle once per quantile pass."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("u"),
    )
    med = u.groupBy("event_type").agg(
        F.percentile(F.col("u"), F.lit(0.5)).alias("med")
    )
    dev = u.join(F.broadcast(med), on="event_type").withColumn(
        "adev", F.abs(F.col("u").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type", "med").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad.drop("med")), on="event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.sum(
                (F.col("adev") > 3.0 * 1.4826 * F.col("mad")).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# =========================================================================
# Behavioral-analytics operators (cohort / funnel / running distinct) and
# bitmap exact-distinct — the query shapes a product-analytics user of the
# reference would reach for next, each with a DuckDB twin.
# =========================================================================


@_register(
    "cohort_retention_weekly",
    """
    WITH act AS (
        SELECT DISTINCT user_id,
               CAST(floor(datediff('day', DATE '2024-01-01',
                                   CAST(ts AS DATE)) / 7) AS BIGINT) AS wk
        FROM events
    ), cohort AS (
        SELECT user_id, min(wk) AS cohort_wk FROM act GROUP BY 1
    )
    SELECT c.cohort_wk, a.wk - c.cohort_wk AS weeks_since,
           count(*) AS n_users
    FROM act a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)
def cohort_retention_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by the week of their FIRST
    event, counted again in every later week they were active — the
    (cohort, weeks_since) triangle behind every retention curve.

    Scale shape: events collapse to distinct (user, week) FIRST (the big
    cardinality drop happens before any join), then first-week and the
    join back both hash on user_id — one partitioning reused across the
    agg and the join, no broadcast needed at any scale. The final matrix
    is tiny (weeks²)."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.floor(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")) / 7
    ).cast("bigint")
    act = ev.select("user_id", wk.alias("wk")).distinct()
    cohort = act.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        act.join(cohort, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("weeks_since")
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@_register(
    "funnel_signup_purchase",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = 'view' AND e.ts > s1.t1 GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > s2.t2 GROUP BY 1
    ), s4 AS (
        SELECT e.user_id, min(e.ts) AS t4
        FROM events e JOIN s3 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > s3.t3 GROUP BY 1
    )
    SELECT '1_signup' AS stage, count(*) AS n_users FROM s1
    UNION ALL SELECT '2_view', count(*) FROM s2
    UNION ALL SELECT '3_click', count(*) FROM s3
    UNION ALL SELECT '4_purchase', count(*) FROM s4
    """,
)
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: how many users signup → view → click → purchase, each
    step STRICTLY after the previous step's first completion (the min-ts
    chaining form — no per-user event sorting, no sessionization).

    Each stage is a filtered aggregate joined to the previous stage's
    per-user min — every join and groupBy hashes on user_id, so the
    partitioning set up by stage 1 is reused down the whole chain; stage
    outputs shrink monotonically. Strict '>' makes the chain
    deterministic even under equal timestamps."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    def first_after(typ: str, prev: DataFrame, prev_t: str, t: str) -> DataFrame:
        return (
            ev.where(F.col("event_type") == typ)
            .join(prev, "user_id")
            .where(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(t))
        )

    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = first_after("view", s1, "t1", "t2")
    s3 = first_after("click", s2, "t2", "t3")
    s4 = first_after("purchase", s3, "t3", "t4")
    stages = [("1_signup", s1), ("2_view", s2), ("3_click", s3), ("4_purchase", s4)]
    counts = [
        df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(name).alias("stage"), "n_users"
        )
        for name, df in stages
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


@_register(
    "cumulative_distinct_users",
    """
    WITH first AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d FROM events GROUP BY 1
    ), daily AS (
        SELECT d, count(*) AS new_users FROM first GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           new_users,
           CAST(sum(new_users) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM daily
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day — the growth curve query. A naive
    form distinct-counts an expanding window (quadratic); this one marks
    each user's FIRST day (one user-keyed agg), so daily new-user counts
    sum cumulatively to the exact distinct-to-date figure.

    The only window runs over the aggregated day domain (≤ #days rows) —
    a bounded single-reducer step no matter how large the fact table."""
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("d"))
    daily = first.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@_register(
    "time_weighted_avg_value",
    f"""
    WITH seq AS (
        SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS u,
               CAST(floor((lead(epoch_us(ts)) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)
                    - epoch_us(ts)) / 1000000.0) AS BIGINT) AS dur_s
        FROM events
    ), agg AS (
        SELECT event_type,
               sum(CAST(u * dur_s AS BIGINT)) AS num,
               sum(dur_s) AS den,
               count(*) AS n_intervals
        FROM seq WHERE dur_s IS NOT NULL
        GROUP BY 1 HAVING sum(dur_s) > 0
    )
    SELECT event_type, n_intervals,
           CAST({_sql_halfup('CAST(num AS BIGINT)', 'CAST(den AS BIGINT)')}
                AS DOUBLE) / 100.0 AS twa_value
    FROM agg
    """,
)
def time_weighted_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type: each observation holds
    until the user's next event, so its value is weighted by that holding
    duration (the irregular-sampling mean — plain avg() over-weights
    bursts). The sensor/price analytics query the row-weighted A4 can't
    answer.

    One shuffle (user window for lead), then a partial-aggregating
    groupBy. Exact integer moments: cents × whole seconds, summed as
    int64 (< 2^58 at any plausible per-user horizon), divided half-up —
    bit-identical cross-engine, same model as the _dec_* helpers."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "event_type",
        _units(F.col("value"), 2).alias("u"),
        F.floor((F.lead(us).over(w) - us) / 1000000.0).cast("bigint").alias(
            "dur_s"
        ),
    )
    agg = (
        seq.where(F.col("dur_s").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum(F.col("u") * F.col("dur_s")).alias("num"),
            F.sum("dur_s").alias("den"),
            F.count(F.lit(1)).alias("n_intervals"),
        )
        .where(F.col("den") > 0)
    )
    return agg.select(
        "event_type",
        "n_intervals",
        (_half_up_div(F.col("num"), F.col("den")).cast("double") / 100.0).alias(
            "twa_value"
        ),
    )


@_register(
    "bitmap_distinct_users",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY 1
    """,
)
def bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type computed via mergeable bitmaps
    (operators/aggregates.py::exact_distinct_bitmap) — the oracle is plain
    count(DISTINCT), proving the bitmap path is exact, not approximate.
    See the operator docstring for the 100 TB story (bounded ≤4 KB bitmap
    shuffle vs all-distinct-values exchange)."""
    ev = load_table(spark, sf_dir, "events")
    return exact_distinct_bitmap(ev, ["event_type"], "user_id")


# =========================================================================
# Text/tokenization surface extensions: edit distance, positional explode,
# deterministic shuffle-sharding
# =========================================================================


@_register(
    "levenshtein_adjacent_docs",
    """
    WITH d AS (
        SELECT doc_id, lang, substr(text, 1, 40) AS p FROM documents
    )
    SELECT lang, doc_id,
           lag(doc_id) OVER w AS prev_id,
           CAST(levenshtein(p, lag(p) OVER w) AS BIGINT) AS edit_dist
    FROM d WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
    QUALIFY prev_id IS NOT NULL
    """,
)
def levenshtein_adjacent_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance surface: Levenshtein between each document's 40-char
    prefix and its doc_id-predecessor within the same language — the
    fuzzy-matching primitive (typo-tolerant dedup, OCR drift detection)
    exercised as a deterministic windowed pairing rather than an O(n²)
    self-join. Spark's levenshtein is a JVM builtin (no UDF); the lag
    window is the only shuffle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 40).alias("p")
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    return (
        d.select(
            "lang",
            "doc_id",
            F.lag("doc_id").over(w).alias("prev_id"),
            F.levenshtein(F.col("p"), F.lag("p").over(w))
            .cast("bigint")
            .alias("edit_dist"),
        )
        .where(F.col("prev_id").isNotNull())
    )


@_register(
    "posexplode_token_positions",
    """
    SELECT doc_id,
           CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
           unnest(ss) AS token
    FROM (SELECT doc_id, string_split(text, ' ') AS ss
          FROM documents WHERE doc_id % 20 = 0)
    """,
)
def posexplode_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode (LATERAL VIEW surface): every token of every 20th
    document with its 0-based position — the tokenize-with-offsets
    primitive under span labeling and n-gram windows. posexplode is a
    zero-shuffle Generate (rows fan out in place, no exchange); the
    filter prunes at the scan."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 20 == 0)
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    return d.select(
        "doc_id", F.posexplode("toks").alias("pos", "token")
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "token")


_SHARD_EXPR, _RANK_EXPR = shards_sql("doc_id", 8)


@_register(
    "shuffle_shards_docs",
    f"""
    WITH assigned AS (
        SELECT doc_id, {_SHARD_EXPR} AS shard, {_RANK_EXPR} AS shuffle_rank
        FROM documents
    )
    SELECT shard, count(*) AS n_docs,
           min(shuffle_rank) AS first_rank,
           max(shuffle_rank) AS last_rank
    FROM assigned GROUP BY 1
    """,
)
def shuffle_shards_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle-sharding for training export
    (ext/sampling.py::shuffle_shards): content-hashed shard id + in-shard
    pseudo-random rank, audited here per shard (count + first/last rank —
    the rank extremes pin the permutation, not just the assignment).
    The real export writes with repartition(n, shard) +
    sortWithinPartitions(rank): one shuffle, reproducible files."""
    d = load_table(spark, sf_dir, "documents")
    assigned = shuffle_shards(d, "doc_id", 8)
    return assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("shuffle_rank").alias("first_rank"),
        F.max("shuffle_rank").alias("last_rank"),
    )


# =========================================================================
# Data-integrity, CDC-apply, corpus-hygiene, and graph operators
# =========================================================================


def _sql_shingles(n: int, t: str = "t") -> str:
    """DuckDB twin of functions.text.shingles over a token-list column
    ``t``: word n-grams, or the whole joined text when the doc is shorter
    than n tokens."""
    return (
        f"CASE WHEN len({t}) <= {n} THEN [array_to_string({t}, ' ')] "
        f"ELSE list_transform(range(1, len({t}) - {n} + 2), "
        f"i -> array_to_string({t}[i:i+{n - 1}], ' ')) END"
    )


@_register(
    "ngram_jaccard_pairs",
    f"""
    WITH t AS (SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_sql_shingles(3)}) AS sh FROM t),
    kept AS (SELECT doc_id, sh FROM (
        SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh)
        WHERE df <= 200),
    sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
    p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
          FROM kept a JOIN kept b USING (sh) WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2)
    SELECT doc_a, doc_b, inter, sa.sz AS size_a, sb.sz AS size_b,
           {_sql_halfup('inter * 1000000', 'sa.sz + sb.sz - inter')}
               AS jaccard_ppm
    FROM p JOIN sz sa ON sa.doc_id = p.doc_a
           JOIN sz sb ON sb.doc_id = p.doc_b
    WHERE 2 * inter >= sa.sz + sb.sz - inter
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (the ground truth MinHash-LSH
    approximates): distinct 3-gram shingles per doc, pairs generated by
    joining on the shingle, Jaccard ≥ 0.5 decided in exact integer
    arithmetic (2·|∩| ≥ |∪|). Shingles whose document frequency exceeds a
    cap are dropped first — stop-shingle removal, the standard exact-dedup
    scale lever: a shingle shared by d docs contributes O(d²) pairs, so
    the cap turns the worst-case quadratic bucket into a bounded one
    (identically on both engines, so the oracle still matches). The
    shingle groupBy, the pair join, and the count reuse one hash
    partitioning on `sh`; Spark reuses the exchange for both sides of the
    self-join (ReusedExchange)."""
    from .functions.text import shingles

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), 3)).alias("sh")
    ).distinct()
    kept = (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .where(F.col("df") <= 200)
        .drop("df")
    )
    sz = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    pairs = (
        kept.alias("a")
        .join(kept.alias("b"), "sh")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b"))
    un = F.col("size_a") + F.col("size_b") - F.col("inter")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.lit(2) * F.col("inter") >= un)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "size_a",
            "size_b",
            _half_up_div(
                F.col("inter") * F.lit(1000000).cast("bigint"), un
            ).alias("jaccard_ppm"),
        )
    )


@_register(
    "apply_cdc_snapshot",
    """
    WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus AS status,
               o_totalprice AS price, CAST(0 AS BIGINT) AS seq, 'U' AS op
        FROM orders WHERE o_orderkey % 3 <> 0),
    c1 AS (
        SELECT o_orderkey AS k, 'X' AS status, o_totalprice + 100.0 AS price,
               CAST(1 + o_orderkey % 7 AS BIGINT) AS seq,
               CASE WHEN o_orderkey % 10 = 5 THEN 'D' ELSE 'U' END AS op
        FROM orders WHERE o_orderkey % 5 = 0),
    c2 AS (
        SELECT o_orderkey AS k, 'Y' AS status, o_totalprice + 5.0 AS price,
               CAST(8 + o_orderkey % 2 AS BIGINT) AS seq, 'U' AS op
        FROM orders WHERE o_orderkey % 15 = 0),
    log AS (SELECT * FROM base UNION ALL SELECT * FROM c1
            UNION ALL SELECT * FROM c2),
    win AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC)
                   AS rn FROM log)
    SELECT k, status, price, seq AS version
    FROM win WHERE rn = 1 AND op = 'U'
    """,
)
def apply_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply (operators/diff.py::apply_cdc): base snapshot + keyed
    upsert/delete log → new snapshot, keep-last per key. The log is
    synthesized from orders so the oracle can replay it: inserts (keys
    absent from base), updates, deletes, and the upsert-after-delete
    resurrection case (keys ≡ 15 mod 30 get a delete at seq ≤ 7 and an
    update at seq ≥ 8) are all present. One window shuffle on the key —
    the MERGE exchange, without per-row lookups."""
    from .operators.diff import apply_cdc

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.where(k % 3 != 0).select(
        k.alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    c1 = o.where(k % 5 == 0).select(
        k.alias("k"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") + 100.0).alias("price"),
        (F.lit(1) + k % 7).cast("bigint").alias("seq"),
        F.when(k % 10 == 5, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    c2 = o.where(k % 15 == 0).select(
        k.alias("k"),
        F.lit("Y").alias("status"),
        (F.col("o_totalprice") + 5.0).alias("price"),
        (F.lit(8) + k % 2).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
    )
    out = apply_cdc(base, c1.unionByName(c2), ["k"])
    return out.select("k", "status", "price", F.col("seq").alias("version"))


@_register(
    "apply_cdc_joined_snapshot",
    ORACLE_SQL["apply_cdc_snapshot"],
)
def apply_cdc_joined_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The big-base scale path of apply_cdc_snapshot
    (operators/diff.py::apply_cdc_joined): keep-last window over the
    CHANGES only, one full-outer join against the base. Shares the
    union-form's oracle verbatim — both plans must produce the identical
    snapshot. With a key-bucketed base the join pays zero base-side
    shuffle (plan-asserted in tests/test_diff_scd.py)."""
    from .operators.diff import apply_cdc_joined

    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    base = o.where(k % 3 != 0).select(
        k.alias("k"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").alias("price"),
    )
    c1 = o.where(k % 5 == 0).select(
        k.alias("k"),
        F.lit("X").alias("status"),
        (F.col("o_totalprice") + 100.0).alias("price"),
        (F.lit(1) + k % 7).cast("bigint").alias("seq"),
        F.when(k % 10 == 5, F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    c2 = o.where(k % 15 == 0).select(
        k.alias("k"),
        F.lit("Y").alias("status"),
        (F.col("o_totalprice") + 5.0).alias("price"),
        (F.lit(8) + k % 2).cast("bigint").alias("seq"),
        F.lit("U").alias("op"),
    )
    out = apply_cdc_joined(base, c1.unionByName(c2), ["k"])
    return out.select("k", "status", "price", F.col("seq").alias("version"))


@_register(
    "benchmark_decontaminate",
    f"""
    WITH t AS (SELECT doc_id, lang, {_NORM_TOKENS_SQL} AS t FROM documents),
    sh AS (SELECT doc_id, lang, unnest({_sql_shingles(5)}) AS sh FROM t),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT DISTINCT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
    cont AS (SELECT DISTINCT doc_id FROM train JOIN bench USING (sh))
    SELECT d.lang, count(*) AS n_train,
           count(cont.doc_id) AS n_contaminated
    FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN cont ON cont.doc_id = d.doc_id
    GROUP BY 1
    """,
)
def benchmark_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination scan: flag training documents sharing any
    5-gram shingle with a held-out benchmark set (here: doc_id ≡ 0 mod
    97) — the n-gram-overlap decontamination step every pretraining
    pipeline runs before training. The benchmark shingle set is tiny
    relative to the corpus, so it broadcasts: the contamination check is
    a broadcast semi-join against the training shingles — no data-sized
    shuffle at 100 TB, the corpus is scanned once."""
    from .functions.text import shingles

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    sh = docs.select("doc_id", F.explode(shingles(F.col("text"), 5)).alias("sh"))
    bench = sh.where(F.col("doc_id") % 97 == 0).select("sh").distinct()
    train_sh = (
        sh.where(F.col("doc_id") % 97 != 0).select("doc_id", "sh").distinct()
    )
    cont = (
        train_sh.join(F.broadcast(bench), "sh")
        .select("doc_id")
        .distinct()
        .withColumn("c", F.lit(1))
    )
    train_docs = docs.where(F.col("doc_id") % 97 != 0).select("doc_id", "lang")
    return (
        train_docs.join(cont, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_train"),
            F.count("c").alias("n_contaminated"),
        )
    )


@_register(
    "doc_repetition_signals",
    f"""
    WITH t AS (SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents),
    bg AS (SELECT doc_id, unnest({_sql_shingles(2)}) AS g FROM t),
    bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    bstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                     max(c) AS top_c, count(*) AS n_uniq
              FROM bgc GROUP BY 1),
    tg AS (SELECT doc_id, unnest({_sql_shingles(3)}) AS g FROM t),
    tgc AS (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY 1, 2),
    tstat AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_trigrams,
                     count(*) AS t_uniq
              FROM tgc GROUP BY 1)
    SELECT b.doc_id AS doc_id, b.n_bigrams,
           {_sql_halfup('b.top_c * 1000000', 'b.n_bigrams')}
               AS top_bigram_ppm,
           {_sql_halfup('t.t_uniq * 1000000', 't.n_trigrams')}
               AS uniq_trigram_ppm
    FROM bstat b JOIN tstat t ON t.doc_id = b.doc_id
    """,
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals, per document: the top
    bigram's share of all bigrams (boilerplate/chant detector) and the
    distinct-trigram fraction (low ⇒ looping text). Both as exact ppm
    integers. Two explode→groupBy branches over the same scan, joined on
    doc_id; every aggregation is partial-agg friendly and the join keys
    are the natural partitioning."""
    from .functions.text import shingles

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )

    def gram_counts(n: int):
        return (
            docs.select(
                "doc_id", F.explode(shingles(F.col("text"), n)).alias("g")
            )
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    bstat = gram_counts(2).groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_c"),
        F.count(F.lit(1)).alias("n_uniq"),
    )
    tstat = gram_counts(3).groupBy("doc_id").agg(
        F.sum("c").alias("n_trigrams"), F.count(F.lit(1)).alias("t_uniq")
    )
    m = F.lit(1000000).cast("bigint")
    return bstat.join(tstat, "doc_id").select(
        "doc_id",
        "n_bigrams",
        _half_up_div(F.col("top_c") * m, F.col("n_bigrams")).alias(
            "top_bigram_ppm"
        ),
        _half_up_div(F.col("t_uniq") * m, F.col("n_trigrams")).alias(
            "uniq_trigram_ppm"
        ),
    )


@_register(
    "mixture_resample_docs",
    """
    WITH w AS (SELECT doc_id, source, n_chars,
            CAST(CASE WHEN source IN ('src0', 'src1') THEN 3
                 WHEN source IN ('src2', 'src3', 'src4') THEN 2
                 ELSE 1 END AS BIGINT) AS w
        FROM documents),
    st AS (SELECT source, w, count(*) AS n FROM w GROUP BY 1, 2),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM st),
    caps AS (SELECT source, (w * t) // sw AS k FROM (
        SELECT source, w, sw, min((n * sw) // w) OVER () AS t
        FROM st, tot)),
    ranked AS (SELECT doc_id, source, n_chars,
        row_number() OVER (PARTITION BY source
            ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mixture') ASC,
                     doc_id ASC) AS r
        FROM w)
    SELECT source, count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM ranked JOIN caps USING (source)
    WHERE r <= k
    GROUP BY 1
    """,
)
def mixture_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (ext/sampling.py::mixture_resample):
    downsample sources so the kept corpus matches target weights
    (src0/src1 ×3, src2-4 ×2, rest ×1) — the DoReMi/Pile-style domain
    reweighting step, deterministic and content-addressed (salted-md5
    rank within stratum, so the kept set is append-stable and
    reproducible in any engine). Audited here per source: rows kept and
    characters kept."""
    from .ext.sampling import mixture_resample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    kept = mixture_resample(
        docs,
        "source",
        {"src0": 3, "src1": 3, "src2": 2, "src3": 2, "src4": 2},
        "doc_id",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )


@_register(
    "referential_integrity_audit",
    f"""
    WITH osnap AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 0),
    csnap AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0)
    SELECT 'lineitem->orders' AS relation, count(*) AS n_child,
           count(*) - count(p.o_orderkey) AS n_orphans,
           {_sql_halfup('(count(*) - count(p.o_orderkey)) * 1000000',
                        'count(*)')} AS orphan_ppm
    FROM lineitem c LEFT JOIN osnap p ON p.o_orderkey = c.l_orderkey
    UNION ALL
    SELECT 'orders->customer', count(*),
           count(*) - count(p.c_custkey),
           {_sql_halfup('(count(*) - count(p.c_custkey)) * 1000000',
                        'count(*)')}
    FROM orders c LEFT JOIN csnap p ON p.c_custkey = c.o_custkey
    UNION ALL
    SELECT 'lineitem->supplier', count(*),
           count(*) - count(p.s_suppkey),
           {_sql_halfup('(count(*) - count(p.s_suppkey)) * 1000000',
                        'count(*)')}
    FROM lineitem c LEFT JOIN supplier p ON p.s_suppkey = c.l_suppkey
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit across the star schema: for each
    child→parent relation, how many child rows point at a missing parent
    (parents deliberately degraded to even-keyed snapshots so the orphan
    counts are non-trivial; lineitem→supplier is audited against the full
    dimension as the clean control). The nightly data-quality gate before
    a warehouse publish. Each audit is a left join + count — parent key
    sets are narrow single-column projections, broadcast when small; the
    output is three rows."""
    m = F.lit(1000000).cast("bigint")

    def audit(child: DataFrame, ckey: str, parent: DataFrame, pkey: str, name: str):
        n_child = F.count(F.lit(1))
        n_orph = F.count(F.lit(1)) - F.count(F.col(pkey))
        return (
            child.select(ckey)
            .join(parent.select(pkey), child[ckey] == parent[pkey], "left")
            .agg(
                F.lit(name).alias("relation"),
                n_child.alias("n_child"),
                n_orph.alias("n_orphans"),
                _half_up_div(n_orph * m, n_child).alias("orphan_ppm"),
            )
        )

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    osnap = orders.where(F.col("o_orderkey") % 2 == 0)
    csnap = cust.where(F.col("c_custkey") % 2 == 0)
    return (
        audit(li, "l_orderkey", osnap, "o_orderkey", "lineitem->orders")
        .unionByName(
            audit(orders, "o_custkey", csnap, "c_custkey", "orders->customer")
        )
        .unionByName(
            audit(li, "l_suppkey", supp, "s_suppkey", "lineitem->supplier")
        )
    )


@_register(
    "listagg_status_history",
    """
    SELECT c.c_custkey AS custkey,
           count(o.o_orderkey) AS n_orders,
           string_agg(o.o_orderstatus, ''
                      ORDER BY o.o_orderdate, o.o_orderkey) AS status_seq
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey % 100 = 0
    GROUP BY 1
    """,
)
def listagg_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP, Spark ≥4.0):
    each sampled customer's order-status history concatenated in
    (orderdate, orderkey) order — the compact-event-history pattern
    (journey strings for sequence mining). Posed through the SQL surface;
    the WITHIN GROUP order is total, so the string is deterministic."""
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey,
               count(o.o_orderkey) AS n_orders,
               listagg(o.o_orderstatus, '')
                   WITHIN GROUP (ORDER BY o.o_orderdate, o.o_orderkey)
                   AS status_seq
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey % 100 = 0
        GROUP BY c.c_custkey
        """
    )


@_register(
    "triangle_count",
    """
    WITH e AS (
        SELECT DISTINCT least(o_custkey % 1000, o_orderkey % 1000) AS a,
               greatest(o_custkey % 1000, o_orderkey % 1000) AS b
        FROM orders
        WHERE o_orderkey % 10 = 0
          AND o_custkey % 1000 <> o_orderkey % 1000)
    SELECT count(*) AS n_triangles, (SELECT count(*) FROM e) AS n_edges
    FROM e e1
    JOIN e e2 ON e2.a = e1.b
    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting (ext/graph.py::count_triangles) over
    an undirected graph (nodes = key residues, edges synthesized from
    orders): the canonical graph-locality statistic. Edges are stored once in (lo, hi) order so
    each triangle a<b<c is counted exactly once by the two-join wedge
    closure — two shuffles on node keys, no driver-side adjacency. At
    real scale the standard refinement is degree-ordering instead of
    value-ordering to keep high-degree wedge fan-out bounded; the join
    shape is identical."""
    from .ext.graph import count_triangles

    o = load_table(spark, sf_dir, "orders")
    edges = o.where(F.col("o_orderkey") % 10 == 0).select(
        (F.col("o_custkey") % 1000).alias("src"),
        (F.col("o_orderkey") % 1000).alias("dst"),
    )
    return count_triangles(edges)


def _lpa_round_sql(r: int) -> str:
    """One unrolled synchronous-LPA round (neighbor label counts →
    majority label, smallest-label tie-break) for the LPA oracle."""
    p = r - 1
    return f"""c{r} AS (
        SELECT e.src AS node, l.lbl, CAST(count(*) AS BIGINT) AS c
        FROM ed e JOIN l{p} l ON l.node = e.dst GROUP BY 1, 2
    ), l{r} AS (
        SELECT node, lbl FROM (
            SELECT node, lbl, row_number() OVER (
                PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
            FROM c{r}
        ) WHERE rn = 1
    )"""


@_register(
    "label_propagation_communities",
    f"""
    WITH e0 AS (
        SELECT o_custkey % 500 AS a, o_orderkey % 500 AS b
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    ed AS (
        SELECT DISTINCT src, dst FROM (
            SELECT a AS src, b AS dst FROM e0
            UNION ALL
            SELECT b AS src, a AS dst FROM e0
        ) WHERE src <> dst
    ),
    l0 AS (
        SELECT DISTINCT src AS node, CAST(src AS BIGINT) AS lbl FROM ed
    ), {_lpa_round_sql(1)}, {_lpa_round_sql(2)}, {_lpa_round_sql(3)}
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM l3 GROUP BY 1
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via SYNCHRONOUS label propagation
    (ext/graph.py::label_propagation) — the cheap split of a near-dup
    or interaction graph into densely-linked groups where connected
    components is too coarse. Synchronous + smallest-label tie-break
    makes the 3-round result a pure function of the edge set, so the
    oracle replays every round as unrolled relational CTEs (the
    pagerank_exact_int pattern). Output: per-community node counts.
    100 TB: each round is one edge-sized equi-join + two
    partial-aggregatable aggs; labels checkpoint per round so lineage
    stays flat."""
    from .ext.graph import label_propagation

    o = load_table(spark, sf_dir, "orders")
    edges = o.where(F.col("o_orderkey") % 7 == 0).select(
        (F.col("o_custkey") % 500).alias("src"),
        (F.col("o_orderkey") % 500).alias("dst"),
    )
    lab = label_propagation(edges, rounds=3)
    return lab.groupBy(F.col("lbl").alias("community")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )


@_register(
    "recursive_cte_rollup",
    """
    WITH RECURSIVE up AS (
        SELECT o_orderkey AS node, o_orderkey AS anc, 0 AS depth FROM orders
        UNION ALL
        SELECT node, anc // 10, depth + 1 FROM up WHERE anc >= 10
    )
    SELECT anc AS root, count(*) AS n_nodes,
           CAST(max(depth) AS BIGINT) AS max_depth
    FROM up WHERE anc < 10
    GROUP BY 1
    """,
)
def recursive_cte_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark ≥4.0 WITH RECURSIVE): roll every order key up
    its implicit decimal hierarchy (parent = key DIV 10) to the root
    digit — the org-chart/BOM ancestor walk that needed iterative
    driver loops before recursion landed in Spark SQL. Each node has one
    parent, so the recursion is linear (no path explosion) and terminates
    at the ~6-level key depth; each iteration is a distributed join+filter
    stage, state never leaves executors. The accumulated-row guard
    (spark.sql.cteRecursionRowLimit, default 1M) is raised explicitly:
    rows ≈ input × depth crosses 1M just past sf0.1 — at real scale the
    guard must be sized to input × depth or the query dies mid-recursion."""
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(200_000_000))
    return spark.sql(
        """
        WITH RECURSIVE up AS (
            SELECT o_orderkey AS node, o_orderkey AS anc, 0 AS depth
            FROM orders
            UNION ALL
            SELECT node, anc DIV 10, depth + 1 FROM up WHERE anc >= 10
        )
        SELECT anc AS root, count(*) AS n_nodes,
               CAST(max(depth) AS BIGINT) AS max_depth
        FROM up WHERE anc < 10
        GROUP BY anc
        """
    )


@_register(
    "lateral_topk_orders",
    """
    SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
           t.o_totalprice AS price
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
    WHERE c.c_custkey % 50 = 0
    """,
)
def lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (Spark ≥3.2): each sampled customer's
    two largest orders, written as the SQL-standard lateral top-k rather
    than a window + filter. Catalyst decorrelates it into a
    ranked join — same physical shape as the window form, posed through
    the lateral surface. Total order (price DESC, key ASC) keeps the two
    rows deterministic."""
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey AS custkey, t.o_orderkey AS orderkey,
               t.o_totalprice AS price
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        WHERE c.c_custkey % 50 = 0
        """
    )


@_register(
    "variant_props_deciles",
    """
    SELECT event_type,
           CAST(CAST(json_extract(props, '$.k') AS BIGINT) // 10 AS BIGINT)
               AS k_decile,
           count(*) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def variant_props_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark ≥4.0): ``parse_json`` into the
    binary VARIANT type, ``variant_get`` a typed field out, and aggregate
    into deciles. The companion to json_props_extract (schema-on-read
    struct): VARIANT keeps the full document queryable without declaring
    a schema — the shape a 100 TB ingest keeps for long-tail fields,
    with hot fields shredded to columns at write."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        ev.select("event_type", (k - F.pmod(k, F.lit(10)))
                  .cast("bigint").alias("k10"))
        .select("event_type", (F.col("k10") / 10).cast("bigint").alias("k_decile"))
        .groupBy("event_type", "k_decile")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "map_functions_surface",
    f"""
    SELECT user_id, event_type, count(*) AS n,
           {_sql_sum('value')} AS value_sum
    FROM events
    WHERE user_id % 100 = 0
    GROUP BY 1, 2
    HAVING count(*) >= 3
    """,
)
def map_functions_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: per-user event-type counts and value
    sums assembled into two maps (map_from_entries), fused with
    map_zip_with, thresholded with map_filter, and exploded back to
    rows. The oracle is the equivalent flat GROUP BY/HAVING — proving
    the map round-trip loses nothing. Maps stay executor-side
    (collect_list feeds map_from_entries inside the aggregate); the
    explode is a zero-shuffle Generate."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") % 100 == 0)
    per = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_units(F.col("value"), 2)).alias("sv"),
    )
    maps = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "n"))
        ).alias("mn"),
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "sv"))
        ).alias("mv"),
    )
    zipped = maps.select(
        "user_id",
        F.map_filter(
            F.map_zip_with(
                "mn", "mv", lambda k, n, sv: F.struct(n.alias("n"), sv.alias("sv"))
            ),
            lambda k, v: v["n"] >= 3,
        ).alias("m"),
    )
    return zipped.select(
        "user_id", F.explode("m").alias("event_type", "v")
    ).select(
        "user_id",
        "event_type",
        F.col("v.n").alias("n"),
        (F.col("v.sv") / 100.0).alias("value_sum"),
    )


@_register(
    "bit_aggregate_surface",
    """
    SELECT event_type,
           bit_and(event_id) AS id_and,
           bit_or(event_id) AS id_or,
           bit_xor(event_id) AS id_xor,
           CAST(sum(bit_count(event_id)) AS BIGINT) AS popcount_sum,
           count(*) AS n
    FROM events
    GROUP BY 1
    """,
)
def bit_aggregate_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface: AND/OR/XOR folds plus total popcount
    per group — the flag-mask reconciliation idiom (which permission bits
    are universal / ever-set / toggled an odd number of times). All
    JVM-side partial-aggregating builtins: each is commutative and
    associative, so map-side combine halves the shuffle like any sum."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bit_and("event_id").alias("id_and"),
        F.bit_or("event_id").alias("id_or"),
        F.bit_xor("event_id").alias("id_xor"),
        F.sum(F.bit_count("event_id").cast("bigint")).alias("popcount_sum"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "exact_numeric_surface",
    """
    SELECT event_id,
           value,
           CAST(floor(value) AS BIGINT) AS fl,
           CAST(ceil(value) AS BIGINT) AS ce,
           abs(value) AS ab,
           CAST(sign(value) AS BIGINT) AS sg,
           sqrt(abs(value)) AS sq,
           CAST(((event_id % 7) + 7) % 7 AS BIGINT) AS m7
    FROM events
    WHERE event_id % 997 = 0
    """,
)
def exact_numeric_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-IEEE numeric scalar surface: floor/ceil/abs/sign/pmod and a
    correctly-rounded sqrt over a sampled row set — every function here
    is bit-deterministic across engines (no transcendentals, whose last
    ulp IEEE does not pin down), so the oracle compares raw doubles with
    no rounding escape hatch. The filter prunes at the parquet scan."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.where(F.col("event_id") % 997 == 0).select(
        "event_id",
        v.alias("value"),
        F.floor(v).cast("bigint").alias("fl"),
        F.ceil(v).cast("bigint").alias("ce"),
        F.abs(v).alias("ab"),
        F.signum(v).cast("bigint").alias("sg"),
        F.sqrt(F.abs(v)).alias("sq"),
        F.pmod(F.col("event_id"), F.lit(7)).cast("bigint").alias("m7"),
    )


@_register(
    "null_safe_join_counts",
    """
    WITH a AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS pr,
                      count(*) AS n_even
               FROM orders WHERE o_orderkey % 2 = 0 GROUP BY 1),
    b AS (SELECT nullif(o_orderpriority, '3-MEDIUM') AS pr,
                 count(*) AS n_odd
          FROM orders WHERE o_orderkey % 2 = 1 GROUP BY 1)
    SELECT coalesce(a.pr, b.pr) AS priority_nulled, a.n_even, b.n_odd
    FROM a FULL OUTER JOIN b ON a.pr IS NOT DISTINCT FROM b.pr
    """,
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): two halves of
    orders aggregated on a deliberately NULLed key, then joined so the
    NULL groups MATCH each other instead of silently dropping (the
    standard '=' behavior that loses the unknown-key bucket in every
    reconciliation report). Catalyst plans EqualNullSafe as a hash join
    key, not a nested loop — same exchange as a plain equi-join."""
    o = load_table(spark, sf_dir, "orders")
    pr = F.nullif(F.col("o_orderpriority"), F.lit("3-MEDIUM")).alias("pr")
    a = (
        o.where(F.col("o_orderkey") % 2 == 0)
        .groupBy(pr)
        .agg(F.count(F.lit(1)).alias("n_even"))
    )
    b = (
        o.where(F.col("o_orderkey") % 2 == 1)
        .groupBy(pr)
        .agg(F.count(F.lit(1)).alias("n_odd"))
    )
    return a.join(b, a["pr"].eqNullSafe(b["pr"]), "full_outer").select(
        F.coalesce(a["pr"], b["pr"]).alias("priority_nulled"),
        "n_even",
        "n_odd",
    )


@_register(
    "xml_roundtrip_extract",
    """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k_xml,
           event_type AS t_xml
    FROM events WHERE event_id % 101 = 0
    """,
)
def xml_roundtrip_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML path (Spark ≥4.0 built-in from_xml): serialize two fields into
    an XML fragment per row, parse it back with an explicit schema, and
    emit the extracted values — the oracle recomputes them directly, so
    any loss in the XML round-trip (escaping, type coercion) fails the
    hash. The parse is a JVM-side StaxXmlParser expression: no UDF, scan
    filter pushed down."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") % 101 == 0)
    k = F.from_json(F.col("props"), "k BIGINT")["k"]
    xml = F.concat(
        F.lit("<r><k>"),
        k.cast("string"),
        F.lit("</k><t>"),
        F.col("event_type"),
        F.lit("</t></r>"),
    )
    parsed = F.from_xml(xml, "k BIGINT, t STRING")
    return ev.select(
        "event_id",
        parsed.getField("k").alias("k_xml"),
        parsed.getField("t").alias("t_xml"),
    )


# --- TPC-H Q2/Q11/Q20 shapes over a synthesized partsupp bridge ---------
# The testdata ships no partsupp table; a deterministic stand-in is derived
# from lineitem identically in both engines: availqty = Σ round(l_quantity),
# supplycost = min cents price ever paid to that (part, supplier). The JOIN
# SHAPES of the three remaining TPC-H queries are then posable exactly.

_SQL_PARTSUPP = """
    ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                  CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                      AS ps_availqty,
                  min(CAST(round(l_extendedprice * 100) AS BIGINT))
                      AS ps_supplycost_cents
           FROM lineitem GROUP BY 1, 2)
"""


def _synth_partsupp(li: DataFrame) -> DataFrame:
    return li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(
        F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias(
            "ps_availqty"
        ),
        F.min(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).alias("ps_supplycost_cents"),
    )


@_register(
    "min_cost_supplier_per_part",
    f"""
    WITH {_SQL_PARTSUPP},
    cand AS (
        SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost_cents,
               s.s_nationkey
        FROM ps
        JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey AND n.n_regionkey = 0
        JOIN part p ON p.p_partkey = ps.ps_partkey AND p.p_partkey % 50 = 0
    )
    SELECT ps_partkey AS partkey, ps_suppkey AS suppkey,
           ps_supplycost_cents AS cost_cents, s_nationkey AS nationkey
    FROM (SELECT *, row_number() OVER (PARTITION BY ps_partkey
              ORDER BY ps_supplycost_cents, ps_suppkey) AS rn
          FROM cand)
    WHERE rn = 1
    """,
)
def min_cost_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): for each sampled part, the
    cheapest supplier within one region — the correlated-min-subquery
    pattern, decorrelated to a keep-first window over the region-filtered
    candidates (count-ordered with a total tie-break, same as Q2's
    MIN(ps_supplycost)). Dimension chain nation→supplier broadcasts;
    the partsupp bridge aggregate is the only data-sized shuffle and its
    (partkey) partitioning feeds the window."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = _synth_partsupp(li)
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = (
        load_table(spark, sf_dir, "nation")
        .where(F.col("n_regionkey") == 0)
        .select("n_nationkey")
    )
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 50 == 0)
        .select("p_partkey")
    )
    cand = (
        ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(part), F.col("ps_partkey") == F.col("p_partkey"))
    )
    w = Window.partitionBy("ps_partkey").orderBy(
        "ps_supplycost_cents", "ps_suppkey"
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("ps_partkey").alias("partkey"),
            F.col("ps_suppkey").alias("suppkey"),
            F.col("ps_supplycost_cents").alias("cost_cents"),
            F.col("s_nationkey").alias("nationkey"),
        )
    )


@_register(
    "inventory_value_share",
    f"""
    WITH {_SQL_PARTSUPP},
    natps AS (SELECT ps.* FROM ps
              JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
              WHERE s.s_nationkey = 3),
    val AS (SELECT ps_partkey,
                   CAST(sum(ps_availqty * ps_supplycost_cents) AS BIGINT)
                       AS value_cents
            FROM natps GROUP BY 1),
    tot AS (SELECT CAST(sum(value_cents) AS BIGINT) AS total_cents FROM val)
    SELECT ps_partkey AS partkey, value_cents
    FROM val, tot
    WHERE value_cents * 2000 > total_cents
    """,
)
def inventory_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose inventory value at
    one nation's suppliers exceeds 0.05% of that nation's total — the
    HAVING-against-global-scalar pattern. The share threshold is an exact
    integer cross-multiply (value·2000 > total) against a 1-row aggregate
    broadcast back; no double ever carries the money."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = _synth_partsupp(li)
    supp = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_nationkey") == 3)
        .select("s_suppkey")
    )
    natps = ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
    val = natps.groupBy("ps_partkey").agg(
        F.sum(
            F.col("ps_availqty") * F.col("ps_supplycost_cents")
        ).alias("value_cents")
    )
    tot = val.agg(F.sum("value_cents").alias("total_cents"))
    return (
        val.crossJoin(F.broadcast(tot))
        .where(F.col("value_cents") * 2000 > F.col("total_cents"))
        .select(F.col("ps_partkey").alias("partkey"), "value_cents")
    )


@_register(
    "excess_stock_suppliers",
    f"""
    WITH {_SQL_PARTSUPP},
    shipped AS (SELECT l_partkey, l_suppkey,
                       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                           AS qty_1997
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
                GROUP BY 1, 2),
    excess AS (SELECT ps.ps_suppkey, count(*) AS n_excess_parts
               FROM ps JOIN shipped sh
                 ON sh.l_partkey = ps.ps_partkey
                AND sh.l_suppkey = ps.ps_suppkey
               WHERE ps.ps_availqty > 10 * sh.qty_1997
               GROUP BY 1)
    SELECT e.ps_suppkey AS suppkey, s.s_nationkey AS nationkey,
           e.n_excess_parts
    FROM excess e JOIN supplier s ON s.s_suppkey = e.ps_suppkey
    WHERE s.s_nationkey % 5 = 1
    """,
)
def excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess inventory): suppliers holding more than
    10× what they shipped of a part in 1997, restricted to a nation
    slice — the availqty-vs-shipped-threshold correlation, decorrelated
    into two partial aggregates co-partitioned on (part, supplier) and an
    integer-threshold join. Both aggregates scan the same table with the
    same grouping, so the second reuses the first's exchange; the final
    dim probe broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = _synth_partsupp(li)
    y97 = F.col("l_shipdate")
    shipped = (
        li.where(
            (y97 >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (y97 < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.round(F.col("l_quantity")).cast("bigint")).alias(
                "qty_1997"
            )
        )
    )
    excess = (
        ps.join(
            shipped,
            (shipped.l_partkey == ps.ps_partkey)
            & (shipped.l_suppkey == ps.ps_suppkey),
        )
        .where(F.col("ps_availqty") > 10 * F.col("qty_1997"))
        .groupBy("ps_suppkey")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    return (
        excess.join(F.broadcast(supp), excess.ps_suppkey == supp.s_suppkey)
        .where(F.col("s_nationkey") % 5 == 1)
        .select(
            F.col("ps_suppkey").alias("suppkey"),
            F.col("s_nationkey").alias("nationkey"),
            "n_excess_parts",
        )
    )


@_register("topk_per_group_scalable", ORACLE_SQL["topk_per_group"])
def topk_per_group_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase top-k (operators/windows.py::
    scalable_topk_per_group): salted local top-k caps any one group's
    reducer load at buckets·k rows, then a final re-rank over survivors.
    Shares topk_per_group's oracle verbatim — the two plans must agree
    row-for-row."""
    from .operators.windows import scalable_topk_per_group

    o = load_table(spark, sf_dir, "orders")
    out = scalable_topk_per_group(
        o,
        ["o_orderpriority"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
        salt_by=["o_orderkey"],
    )
    return out.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.col("rnk").cast("int").alias("rnk"),
    )


from .operators.partitioning import morton_sql_duckdb as _morton_duck  # noqa: E402

_ZB = 8  # bits per dimension
_Z_DUCK_BUCKETS = [
    f"(((CAST(user_id AS BIGINT) - lo_u) * {2 ** _ZB}) // (hi_u - lo_u + 1))",
    f"(((cents - lo_c) * {2 ** _ZB}) // (hi_c - lo_c + 1))",
]


@_register(
    "zorder_cluster_audit",
    f"""
    WITH e AS (SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
               FROM events),
    b AS (SELECT CAST(min(user_id) AS BIGINT) AS lo_u,
                 CAST(max(user_id) AS BIGINT) AS hi_u,
                 min(cents) AS lo_c, max(cents) AS hi_c
          FROM e),
    z AS (SELECT user_id, cents,
                 {_morton_duck(_Z_DUCK_BUCKETS, _ZB)} AS zkey
          FROM e, b)
    SELECT CAST(zkey >> 10 AS BIGINT) AS file_id,
           count(*) AS n,
           CAST(min(user_id) AS BIGINT) AS u_min,
           CAST(max(user_id) AS BIGINT) AS u_max,
           min(cents) AS c_min, max(cents) AS c_max
    FROM z GROUP BY 1
    """,
)
def zorder_cluster_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit (operators/partitioning.py::zorder_key):
    Morton-interleave (user_id, value-cents) into a 16-bit key, split the
    key space into 64 'files', and report each file's min/max per
    dimension — the min/max ranges are narrow in BOTH columns, which is
    exactly why a z-sorted layout lets file statistics prune scans on
    either predicate (the OPTIMIZE ZORDER story, auditable in SQL). The
    key is exact bigint bit math, identical in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )
    from .operators.partitioning import zorder_key

    z = zorder_key(ev, ["user_id", "cents"], bits=_ZB)
    return z.groupBy(
        F.shiftright(F.col("zkey"), 10).cast("bigint").alias("file_id")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").cast("bigint").alias("u_min"),
        F.max("user_id").cast("bigint").alias("u_max"),
        F.min("cents").alias("c_min"),
        F.max("cents").alias("c_max"),
    )


@_register(
    "doc_rarity_score",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_NORM_TOKENS_SQL}) AS token
                  FROM documents),
    dfr AS (SELECT token, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks GROUP BY 1)
    SELECT doc_id, count(*) AS n_tokens,
           {_sql_halfup('CAST(sum(df) AS BIGINT) * 100', 'count(*)')}
               AS mean_df_centi
    FROM toks JOIN dfr USING (token)
    GROUP BY 1
    """,
)
def doc_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-commonness quality signal: mean document frequency of a
    doc's token occurrences (low ⇒ rare/specialist vocabulary, high ⇒
    boilerplate) — the integer-exact stand-in for a unigram-LM perplexity
    score (logprobs are transcendental and engine-divergent; df ranks the
    same docs). The df table is vocabulary-sized, so it broadcasts; one
    corpus scan + per-doc aggregate."""
    from .functions.text import tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    )
    dfr = (
        toks.select("doc_id", "token")
        .distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    m = F.lit(100).cast("bigint")
    return (
        toks.join(F.broadcast(dfr), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            _half_up_div(F.sum("df") * m, F.count(F.lit(1))).alias(
                "mean_df_centi"
            ),
        )
    )


@_register(
    "vocab_coverage_docs",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_NORM_TOKENS_SQL}) AS token
                  FROM documents),
    voc AS (SELECT token FROM (
        SELECT token, count(*) AS n FROM toks GROUP BY 1
        ORDER BY n DESC, token ASC LIMIT 20))
    SELECT doc_id, count(*) AS n_tokens,
           CAST(count(v.token) AS BIGINT) AS n_in_vocab,
           {_sql_halfup('(count(*) - count(v.token)) * 1000000',
                        'count(*)')} AS oov_ppm
    FROM toks LEFT JOIN voc v USING (token)
    GROUP BY 1
    """,
)
def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per document, how many token
    occurrences fall inside the corpus top-20 vocabulary and the
    out-of-vocabulary rate in exact ppm — the OOV-rate gate every
    pretraining tokenizer build runs (high OOV ⇒ encoding blowup). The
    vocab is a deterministic top-k (count DESC, token ASC) broadcast to a
    left join; TakeOrdered builds it without a global sort."""
    from .functions.text import tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    )
    voc = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
        .select("token")
        .withColumn("v", F.lit(1))
    )
    m = F.lit(1000000).cast("bigint")
    return (
        toks.join(F.broadcast(voc), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count("v").alias("n_in_vocab"),
            _half_up_div(
                (F.count(F.lit(1)) - F.count("v")) * m, F.count(F.lit(1))
            ).alias("oov_ppm"),
        )
    )


@_register(
    "param_sql_group_by_all",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           {_sql_sum('l_extendedprice')} AS revenue
    FROM lineitem WHERE l_quantity > 25
    GROUP BY ALL
    """,
)
def param_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-frontend conveniences, both Spark ≥3.4/4.0: a NAMED-PARAMETER
    query (`:thr` bound via spark.sql(args=...) — injection-safe
    templating, plan cacheable across bindings) grouped with GROUP BY ALL
    (every non-aggregate select item becomes a key). The oracle is the
    same query with the literal inlined."""
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    su = (
        "(CAST(sum(CAST(round((l_extendedprice) * 100) AS BIGINT)) AS DOUBLE)"
        " / 100.0)"
    )
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               {su} AS revenue
        FROM lineitem WHERE l_quantity > :thr
        GROUP BY ALL
        """,
        args={"thr": 25},
    )


@_register(
    "file_lineage_counts",
    """
    SELECT 'lineitem.parquet' AS file_name, count(*) AS n FROM lineitem
    UNION ALL SELECT 'orders.parquet', count(*) FROM orders
    UNION ALL SELECT 'events.parquet', count(*) FROM events
    """,
)
def file_lineage_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level lineage via the hidden `_metadata` column (Spark ≥3.4):
    per-input-file row counts without any path bookkeeping in user code —
    the provenance hook a 100 TB ingest uses to trace bad rows back to
    the file that delivered them (the reference carries lineage by hand
    in `dag_times`, fetch_weather.py:177-181). The oracle pins the
    counts per known file name, so the metadata column must attribute
    every row to the right file."""
    parts = []
    for t in ("lineitem", "orders", "events"):
        parts.append(
            load_table(spark, sf_dir, t)
            .select(F.col("_metadata.file_name").alias("file_name"))
            .groupBy("file_name")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@_register(
    "copurchase_pairs_topk",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey % 200 AS pg
                FROM lineitem),
    pairs AS (SELECT a.pg AS part_a, b.pg AS part_b, count(*) AS support
              FROM lp a JOIN lp b
                ON b.l_orderkey = a.l_orderkey AND a.pg < b.pg
              GROUP BY 1, 2)
    SELECT part_a, part_b, support FROM pairs
    ORDER BY support DESC, part_a ASC, part_b ASC LIMIT 25
    """,
)
def copurchase_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top part-group pairs appearing in
    the same order (frequent-itemset support counting, the recommender
    starting point). The within-basket self-join is bounded by basket
    size (≤17 lines ⇒ ≤136 pairs per order) — unlike the document
    near-dup joins, no cap is needed because the grouping key (order)
    physically bounds the fan-out. One shuffle on orderkey, reused by
    both join sides (ReusedExchange), then partial-agg counts and a
    TakeOrdered top-k."""
    li = load_table(spark, sf_dir, "lineitem")
    lp = li.select(
        "l_orderkey", (F.col("l_partkey") % 200).alias("pg")
    ).distinct()
    pairs = (
        lp.alias("a")
        .join(lp.alias("b"), "l_orderkey")
        .where(F.col("a.pg") < F.col("b.pg"))
        .groupBy(F.col("a.pg").alias("part_a"), F.col("b.pg").alias("part_b"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return pairs.orderBy(
        F.col("support").desc(), F.col("part_a").asc(), F.col("part_b").asc()
    ).limit(25)


@_register(
    "abc_classification_parts",
    """
    WITH rev AS (SELECT l_partkey % 500 AS part_g,
                        CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                             AS BIGINT) AS cents
                 FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
    ranked AS (SELECT part_g, cents, t,
                      CAST(sum(cents) OVER (ORDER BY cents DESC, part_g ASC)
                           AS BIGINT) AS cum
               FROM rev, tot)
    SELECT CASE WHEN (cum - cents) * 100 < t * 80 THEN 'A'
                WHEN (cum - cents) * 100 < t * 95 THEN 'B'
                ELSE 'C' END AS klass,
           count(*) AS n_parts,
           CAST(sum(cents) AS BIGINT) AS class_cents
    FROM ranked GROUP BY 1
    """,
)
def abc_classification_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto inventory classification: rank part groups by revenue,
    class A until the running share crosses 80%, B until 95%, C after —
    decided in exact integer cross-multiplies on cents (a part is in A iff
    the cumulative BEFORE it is under 80% of total). The ranking window
    runs over the per-part AGGREGATE (hundreds of rows), not the fact
    table — the single-partition window is stats-sized, the data-sized
    work is one partial-agg groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy((F.col("l_partkey") % 500).alias("part_g")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    tot = rev.agg(F.sum("cents").alias("t"))
    w = Window.orderBy(F.col("cents").desc(), F.col("part_g").asc())
    ranked = rev.crossJoin(F.broadcast(tot)).withColumn(
        "cum", F.sum("cents").over(w)
    )
    before = (F.col("cum") - F.col("cents")) * 100
    klass = (
        F.when(before < F.col("t") * 80, F.lit("A"))
        .when(before < F.col("t") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return (
        ranked.select(klass.alias("klass"), "cents")
        .groupBy("klass")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("cents").alias("class_cents"),
        )
    )


@_register(
    "rfm_segment_counts",
    """
    WITH cust AS (
        SELECT o_custkey AS ck,
               CAST(date_diff('day', max(o_orderdate),
                              TIMESTAMP '1998-08-01 00:00:00') AS BIGINT)
                   AS rec_days,
               count(*) AS freq,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS mon_cents
        FROM orders GROUP BY 1),
    scored AS (SELECT ck,
        CAST(ntile(4) OVER (ORDER BY rec_days ASC, ck ASC) AS INT) AS r,
        CAST(ntile(4) OVER (ORDER BY freq DESC, ck ASC) AS INT) AS f,
        CAST(ntile(4) OVER (ORDER BY mon_cents DESC, ck ASC) AS INT) AS m
        FROM cust)
    SELECT r, f, m, count(*) AS n_customers
    FROM scored GROUP BY 1, 2, 3
    """,
)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles, the
    classic CRM cut): per customer, days since last order vs a fixed
    reference date, order count, and lifetime cents, each quartiled with
    a total-order ntile, then segment population counts. The three
    quartile assignments run on the per-customer AGGREGATE — data-sized
    at warehouse scale — as PURE COLUMN EXPRESSIONS against exactly-
    selected boundary rows (operators/windows.py::ntile_by_boundaries,
    round-5 verdict item 6): the three differently-ordered quartiles add
    ZERO exchanges to the plan, where the previous three sequential
    two-phase ntiles each paid a range repartition of the aggregate.
    Boundary selection runs outside the plan like approxQuantile;
    descending orders rank the NEGATED measure (ntile over a total order
    depends only on the ordering, so -freq asc ≡ freq desc with the same
    ck tie-break)."""
    from .operators.windows import ntile_by_boundaries

    o = load_table(spark, sf_dir, "orders")
    ref = F.lit("1998-08-01 00:00:00").cast("timestamp_ntz")
    cust = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.datediff(ref, F.max("o_orderdate")).cast("bigint").alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "mon_cents"
        ),
    )
    cust = cust.withColumn("__negf", -F.col("freq")).withColumn(
        "__negm", -F.col("mon_cents")
    )
    # materialize the aggregate once: the boundary-selection jobs and
    # the final pass all read it (identity + no jobs in plan-only mode)
    from .planmode import checkpoint, is_plan_only

    cust = checkpoint(cust)
    total = None if is_plan_only() else cust.count()
    scored = ntile_by_boundaries(
        cust, ["rec_days", "ck"], 4, tile_col="r", total=total
    )
    scored = ntile_by_boundaries(
        scored, ["__negf", "ck"], 4, tile_col="f", total=total
    )
    scored = ntile_by_boundaries(
        scored, ["__negm", "ck"], 4, tile_col="m", total=total
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# rows-only: iterative float algorithm — no SQL twin; invariants (python-
# reference equality, mass conservation, cycle uniformity) are pinned in
# tests/test_graph.py
@_register("pagerank_residue_graph")
def pagerank_residue_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration PageRank (ext/graph.py::pagerank) over the synthetic
    residue graph used by triangle_count: top-20 nodes by rank with a
    total-order tie-break. Each of the 8 rounds is a distributed
    join→groupBy; only the 1-row dangling-mass aggregate touches the
    driver."""
    from .ext.graph import pagerank

    o = load_table(spark, sf_dir, "orders")
    edges = o.where(F.col("o_orderkey") % 10 == 0).select(
        (F.col("o_custkey") % 1000).alias("src"),
        (F.col("o_orderkey") % 1000).alias("dst"),
    )
    ranks = pagerank(edges, iterations=8)
    return (
        ranks.select("node", F.round(F.col("rank") * 1e9).cast("bigint").alias("rank_nano"))
        .orderBy(F.col("rank_nano").desc(), F.col("node").asc())
        .limit(20)
    )


def _pagerank_int_sql(iters: int = 3, scale: int = 10**12) -> str:
    """Unrolled CTE chain for the exact integer PageRank twin. Every
    operation is bigint floor arithmetic on positive values, so both
    engines produce identical ranks digit-for-digit."""
    head = f"""
    WITH e AS (
        SELECT DISTINCT o_custkey % 1000 AS u, o_orderkey % 1000 AS v
        FROM orders WHERE o_orderkey % 10 = 0
    ), nodes AS (
        SELECT u AS node FROM e UNION SELECT v FROM e
    ), nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT u, count(*) AS d FROM e GROUP BY u),
    r0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS r FROM nodes, nn)
    """
    body = ""
    for t in range(1, iters + 1):
        p = f"r{t - 1}"
        body += f""",
    c{t} AS (
        SELECT e.v AS node, sum({p}.r // deg.d) AS c
        FROM e JOIN deg USING (u) JOIN {p} ON {p}.node = e.u
        GROUP BY e.v
    ), d{t} AS (
        SELECT coalesce(sum(r), 0) AS dm FROM {p}
        WHERE node NOT IN (SELECT u FROM e)
    ), r{t} AS (
        SELECT nodes.node,
               CAST((15 * {scale}) // (100 * n)
                    + (85 * (coalesce(c{t}.c, 0) + dm // n)) // 100
                    AS BIGINT) AS r
        FROM nodes CROSS JOIN nn CROSS JOIN d{t}
        LEFT JOIN c{t} ON c{t}.node = nodes.node
    )"""
    return (
        head
        + body
        + f"""
    SELECT node, r AS rank_u FROM r{iters}
    ORDER BY r DESC, node LIMIT 20
    """
    )


@_register("pagerank_exact_int", _pagerank_int_sql())
def pagerank_exact_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank in EXACT integer fixed point, hash-matched cross-engine
    (the deterministic twin of the float `pagerank_residue_graph`, which
    stays rows-only): ranks carry pico-units (10¹²), every step is
    bigint floor arithmetic — contrib = r div outdeg, damping as
    (85·x) div 100, dangling mass redistributed as dm div n — so three
    unrolled power iterations produce identical digits in Spark and
    DuckDB. The node count and per-round dangling mass are 1-row
    aggregates CROSS-joined back (whitelisted broadcast pattern) — no
    data ever collects to the driver, unlike the float path's per-round
    dangling collect. Each round's rank frame is localCheckpointed
    (optimization round 8): the rank feeds TWO consumers per round
    (contribs + dangling mass) and the rounds are unrolled, so the lazy
    form re-executed every earlier round per consumer — ~2× subtree
    growth per iteration (162 duplicated scans in the audited plan).
    The materialized frame is node-count-sized. Top-20 by (rank DESC,
    node)."""
    from .planmode import checkpoint
    U = 10**12
    e = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") % 10 == 0)
        .select(
            (F.col("o_custkey") % 1000).alias("u"),
            (F.col("o_orderkey") % 1000).alias("v"),
        )
        .distinct()
    )
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = e.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    r = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({U} div n AS BIGINT)").alias("r")
    )
    for _ in range(3):
        r = checkpoint(r)
        linked = r.join(deg, r["node"] == deg["u"], "left")
        contribs = (
            linked.where(F.col("d").isNotNull())
            .select(F.col("node").alias("u"), "r", "d")
            .join(e, on="u")
            .select(F.col("v").alias("node"), F.expr("r div d").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        dang = linked.where(F.col("d").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("dm")
        )
        r = (
            nodes.crossJoin(F.broadcast(nn))
            .crossJoin(F.broadcast(dang))
            .join(contribs, on="node", how="left")
            .select(
                "node",
                F.expr(
                    f"CAST((15 * {U}) div (100 * n)"
                    " + (85 * (coalesce(c, CAST(0 AS BIGINT)) + dm div n))"
                    " div 100 AS BIGINT)"
                ).alias("r"),
            )
        )
    return (
        r.select("node", F.col("r").alias("rank_u"))
        .orderBy(F.col("rank_u").desc(), F.col("node").asc())
        .limit(20)
    )


@_register(
    "quality_cascade_audit",
    f"""
    WITH t AS (SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents),
    lens AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM t),
    bg AS (SELECT doc_id, unnest({_sql_shingles(2)}) AS g FROM t),
    bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
    rep AS (SELECT doc_id,
                   {_sql_halfup('max(c) * 1000000', 'CAST(sum(c) AS BIGINT)')}
                       AS top_bigram_ppm
            FROM bgc GROUP BY 1),
    toks AS (SELECT doc_id, unnest(t) AS token FROM t),
    voc AS (SELECT token FROM (
        SELECT token, count(*) AS n FROM toks GROUP BY 1
        ORDER BY n DESC, token ASC LIMIT 20)),
    oov AS (SELECT doc_id,
                   {_sql_halfup('(count(*) - count(v.token)) * 1000000',
                                'count(*)')} AS oov_ppm
            FROM toks LEFT JOIN voc v USING (token) GROUP BY 1),
    verdicts AS (
        SELECT lens.doc_id, lens.n_tokens,
               CASE WHEN lens.n_tokens < 24 THEN 'too_short'
                    WHEN rep.top_bigram_ppm > 80000 THEN 'repetitive'
                    WHEN oov.oov_ppm > 350000 THEN 'high_oov'
                    ELSE 'pass' END AS verdict
        FROM lens JOIN rep ON rep.doc_id = lens.doc_id
                  JOIN oov ON oov.doc_id = lens.doc_id)
    SELECT verdict, count(*) AS n_docs,
           {_sql_halfup('CAST(sum(n_tokens) AS BIGINT) * 100', 'count(*)')}
               AS avg_tokens_centi
    FROM verdicts GROUP BY 1
    """,
)
def quality_cascade_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter cascade with reason attribution: every document is
    judged by a priority chain (too short → repetitive top-bigram → high
    OOV → pass) and the audit reports the population and mean length per
    FIRST-failing reason — the funnel report a pretraining filter
    pipeline publishes so a corpus change can be traced to the gate that
    ate it. All three signals reuse the engine's exact-integer forms
    (token counts, halfup ppm shares, top-k vocab broadcast); one corpus
    scan feeds three aggregate branches joined on doc_id."""
    from .functions.text import shingles, tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    m = F.lit(1000000).cast("bigint")
    lens = docs.select(
        "doc_id", F.size(_tokens(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    rep = (
        docs.select(
            "doc_id", F.explode(shingles(F.col("text"), 2)).alias("g")
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            _half_up_div(F.max("c") * m, F.sum("c")).alias("top_bigram_ppm")
        )
    )
    toks = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    )
    voc = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
        .select("token")
        .withColumn("v", F.lit(1))
    )
    oov = (
        toks.join(F.broadcast(voc), "token", "left")
        .groupBy("doc_id")
        .agg(
            _half_up_div(
                (F.count(F.lit(1)) - F.count("v")) * m, F.count(F.lit(1))
            ).alias("oov_ppm")
        )
    )
    verdict = (
        F.when(F.col("n_tokens") < 24, F.lit("too_short"))
        .when(F.col("top_bigram_ppm") > 80000, F.lit("repetitive"))
        .when(F.col("oov_ppm") > 350000, F.lit("high_oov"))
        .otherwise(F.lit("pass"))
    )
    return (
        lens.join(rep, "doc_id")
        .join(oov, "doc_id")
        .select(verdict.alias("verdict"), "n_tokens")
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            _half_up_div(
                F.sum("n_tokens") * F.lit(100).cast("bigint"),
                F.count(F.lit(1)),
            ).alias("avg_tokens_centi"),
        )
    )


@_register(
    "governance_mask_try_surface",
    """
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g')
               AS masked_name,
           100.0 / nullif(CAST(c_custkey % 3 AS BIGINT) - 1, 0) AS safe_div,
           try_cast(c_name[10:] AS BIGINT) AS parsed_id,
           CASE WHEN c_custkey % 16 > 7 THEN NULL
                ELSE 9223372036854775800 + c_custkey % 16 END AS near_max
    FROM customer WHERE c_custkey % 25 = 0
    """,
)
def governance_mask_try_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Governance + ANSI-safety surface: ``mask()`` (Spark ≥3.4 data
    masking: upper→X, lower→x, digit→n, punctuation kept — the
    PII-redaction builtin) and the ``try_*`` family — this engine runs
    ANSI mode (session default in Spark 4), where overflow and bad casts
    THROW, so try_divide / try_cast / try_add are the sanctioned per-row
    escape valves that return NULL instead of failing the job. The oracle
    reproduces mask with regex classes and the try semantics with
    nullif/CASE (division by zero and overflow both → NULL in DuckDB)."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 25 == 0
    )
    den = (F.col("c_custkey") % 3).cast("bigint") - 1
    return c.select(
        "c_custkey",
        F.expr("mask(c_name)").alias("masked_name"),
        F.try_divide(F.lit(100.0), F.nullif(den, F.lit(0))).alias("safe_div"),
        F.expr("try_cast(substring(c_name, 10) AS BIGINT)").alias(
            "parsed_id"
        ),
        # genuinely overflows for c_custkey % 16 > 7 → NULL, not a job kill
        F.try_add(
            F.lit(9223372036854775800), (F.col("c_custkey") % 16)
        ).alias("near_max"),
    )


@_register(
    "relational_division_ranked",
    """
    WITH classes AS (SELECT count(DISTINCT o_orderpriority) AS nc
                     FROM orders),
    cover AS (SELECT o_custkey,
                     count(DISTINCT o_orderpriority) AS np,
                     count(*) AS n_orders
              FROM orders GROUP BY 1)
    SELECT o_custkey AS custkey, n_orders,
           CAST(dense_rank() OVER (ORDER BY n_orders DESC) AS BIGINT)
               AS volume_rank
    FROM cover, classes WHERE np = nc
    """,
)
def relational_division_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("for all"): customers whose orders span EVERY
    priority class that exists in the data — the division-by-distinct-
    count decomposition (per-key distinct count equals the global class
    count, itself computed, never hardcoded), which is how the
    universally-quantified EXISTS is posed without a nested NOT EXISTS
    pair. Qualifying customers are then tied-rank ordered by volume with
    dense_rank (equal counts share a rank, no gaps). The division is one
    partial-agg groupBy + a 1-row class-count broadcast. The dense_rank
    is computed SCALABLY: dense_rank of a row equals the rank of its
    DISTINCT value, so the single-reducer window runs over the distinct
    n_orders domain (bounded by the max orders a customer can have —
    hundreds, at any table size) and broadcast-joins back; no data-sized
    rows pass through one reducer."""
    o = load_table(spark, sf_dir, "orders")
    classes = o.agg(
        F.countDistinct("o_orderpriority").alias("nc")
    )
    cover = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("np"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    qual = cover.crossJoin(F.broadcast(classes)).where(
        F.col("np") == F.col("nc")
    )
    vals = qual.select("n_orders").distinct()
    ranks = vals.withColumn(
        "volume_rank",
        F.row_number()
        .over(Window.orderBy(F.col("n_orders").desc()))
        .cast("bigint"),
    )
    return qual.join(F.broadcast(ranks), "n_orders").select(
        F.col("o_custkey").alias("custkey"), "n_orders", "volume_rank"
    )


@_register(
    "dedup_e2e_shrinkage",
    f"""
    SELECT count(*) AS n_docs,
           count(DISTINCT c.cluster_id) AS n_kept,
           count(*) - count(DISTINCT c.cluster_id) AS n_removed,
           CAST(sum(CASE WHEN c.doc_id <> c.cluster_id THEN d.n_chars
                         ELSE 0 END) AS BIGINT) AS chars_removed
    FROM ({_lsh_cluster_sql()}) c
    JOIN documents d ON d.doc_id = c.doc_id
    """,
)
def dedup_e2e_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end near-dup dedup ledger: run the full
    candidates→clusters pipeline (lsh_neardup_clusters: MinHash banding →
    star edges → connected components), elect the min-id survivor per
    cluster (the cluster label IS the survivor), and account for what
    dedup removes — documents dropped and characters reclaimed. This is
    the before/after number a corpus curation run reports; the whole
    chain, including the transitive closure, is reproduced in the oracle
    via the recursive CTE nested as a subquery."""
    clusters = lsh_neardup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = clusters.join(docs, "doc_id")
    return j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_id").alias("n_kept"),
        (F.count(F.lit(1)) - F.countDistinct("cluster_id")).alias(
            "n_removed"
        ),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("doc_id") != F.col("cluster_id"), F.col("n_chars")
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        ).cast("bigint").alias("chars_removed"),
    )


@_register(
    "session_transition_matrix",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS BIGINT) AS sid
        FROM flagged
    ), trans AS (
        SELECT lag(event_type) OVER (
                   PARTITION BY user_id, sid ORDER BY ts, event_id
               ) AS prev_type,
               event_type AS next_type
        FROM sess
    )
    SELECT prev_type, next_type, count(*) AS n
    FROM trans WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive events INSIDE a
    session (30-min gap sessionization → cumulative session id → lag
    within (user, session)) — the behavioral-analytics matrix under
    next-action prediction and funnel diagnosis. Session boundaries cut
    transitions: the last event of one session never pairs with the
    first of the next. Two window passes (user, then user+session) and a
    tiny types² aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(prev_ts.isNull() | (gap_s > 1800), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sess = flagged.withColumn(
        "sid", F.sum("new_session").over(w).cast("bigint")
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    trans = sess.select(
        F.lag("event_type").over(ws).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    )
    return (
        trans.where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "benford_digit_audit",
    f"""
    WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
                   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
               FROM orders WHERE o_totalprice > 0)
    SELECT digit, count(*) AS n,
           {_sql_halfup('count(*) * 1000000',
                        '(SELECT count(*) FROM d)')} AS share_ppm
    FROM d GROUP BY 1
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit: the leading-digit distribution of order
    totals in exact ppm — the classic anomaly screen (organic monetary
    data tracks log10(1+1/d); fabricated or capped data doesn't). Digit
    extraction is integer string math on cents (no float log), the share
    an exact half-up ppm against a 1-row total broadcast; nine output
    rows."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    d = o.select(
        F.substring(cents.cast("string"), 1, 1).cast("bigint").alias("digit")
    )
    tot = d.agg(F.count(F.lit(1)).alias("t"))
    return (
        d.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            _half_up_div(
                F.col("n") * F.lit(1000000).cast("bigint"), F.col("t")
            ).alias("share_ppm"),
        )
    )


_FH_DIM = 64


@_register(
    "feature_hash_audit",
    f"""
    WITH toks AS (SELECT doc_id, unnest({_NORM_TOKENS_SQL}) AS token
                  FROM documents WHERE doc_id % 4 = 0),
    slotted AS (SELECT doc_id,
                       CAST('0x' || substr(md5(token || ':fh'), 1, 8)
                            AS BIGINT) % {_FH_DIM} AS slot
                FROM toks)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS l1,
           count(*) AS n_nonzero,
           CAST(max(c) AS BIGINT) AS max_slot_count
    FROM (SELECT doc_id, slot, count(*) AS c FROM slotted GROUP BY 1, 2)
    GROUP BY 1
    """,
)
def feature_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (feature hashing): tokens mapped to a fixed
    64-dim slot space by salted md5 — the vocabulary-free
    featurizer that needs no fitted dictionary, so it streams and scales
    without a vocab broadcast. Audited per document: L1 mass (token
    count), occupied slots, and the heaviest slot (collision pressure —
    occupancy below the token count IS the hash collision the trick
    trades for boundlessness). Slot math is md5-deterministic, so the
    oracle reproduces the exact assignment."""
    from .functions.text import feature_hash_slot, tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents")).where(
        F.col("doc_id") % 4 == 0
    )
    slotted = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("token")
    ).select(
        "doc_id", feature_hash_slot(F.col("token"), _FH_DIM).alias("slot")
    )
    per_slot = slotted.groupBy("doc_id", "slot").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_slot.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("l1"),
        F.count(F.lit(1)).alias("n_nonzero"),
        F.max("c").cast("bigint").alias("max_slot_count"),
    )


@_register(
    "contingency_expected_counts",
    f"""
    WITH c AS (SELECT event_type, CAST(user_id % 5 AS BIGINT) AS ub,
                      count(*) AS obs
               FROM events GROUP BY 1, 2),
    rt AS (SELECT event_type, CAST(sum(obs) AS BIGINT) AS r
           FROM c GROUP BY 1),
    ct AS (SELECT ub, CAST(sum(obs) AS BIGINT) AS cl FROM c GROUP BY 1),
    tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c)
    SELECT c.event_type, c.ub, c.obs,
           {_sql_halfup('r * cl * 1000', 'n')} AS expected_milli
    FROM c JOIN rt USING (event_type) JOIN ct USING (ub), tot
    """,
)
def contingency_expected_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independence-test preparation (the chi-square contingency table):
    observed counts per (event_type × user bucket) beside the
    under-independence expectation row·col/N — computed as an exact
    half-up milli-count, so no float sum ever crosses engines. Feature-
    association auditing in pipelines (is event mix independent of the
    user segment?); the marginals are category-sized and broadcast back
    onto the cell table."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", (F.col("user_id") % 5).cast("bigint").alias("ub")
    ).agg(F.count(F.lit(1)).alias("obs"))
    rt = c.groupBy("event_type").agg(F.sum("obs").alias("r"))
    ct = c.groupBy("ub").agg(F.sum("obs").alias("cl"))
    tot = c.agg(F.sum("obs").alias("n"))
    return (
        c.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "ub")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "ub",
            "obs",
            _half_up_div(
                F.col("r") * F.col("cl") * F.lit(1000).cast("bigint"),
                F.col("n"),
            ).alias("expected_milli"),
        )
    )


@_register(
    "gini_revenue_concentration",
    f"""
    WITH cust AS (SELECT o_custkey,
                         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS cents
                  FROM orders GROUP BY 1),
    ranked AS (SELECT cents,
                      CAST(row_number() OVER (ORDER BY cents ASC,
                                              o_custkey ASC) AS BIGINT) AS r
               FROM cust),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(cents) AS total_h,
                 sum(r * cents) AS rx
          FROM ranked)
    SELECT n AS n_customers, CAST(total_h AS BIGINT) AS total_cents,
           CAST({_sql_halfup('(2 * rx - (n + 1) * total_h) * 1000000',
                             'n * total_h')} AS BIGINT) AS gini_ppm
    FROM s
    """,
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration as an exact Gini coefficient in ppm: rank
    customers by lifetime cents (total order), then
    G = (2·Σ(rank·x) − (n+1)·Σx) / (n·Σx) — every term a bigint, the
    final division the engine's half-up decimal divide, so the
    inequality statistic is bit-identical across engines (float Lorenz
    integration never is). The ppm numerator exceeds int64 at TPC-H
    scale, so the final arithmetic runs wide — decimal(38,0) in Spark,
    hugeint in DuckDB — per the engine's overflow discipline (ANSI mode
    would otherwise kill the job). The per-customer aggregate is
    data-sized at warehouse scale (150M customers at SF100), so the rank
    uses the SCALABLE two-phase global rank (range partition + broadcast
    offsets), not a single-reducer window."""
    from .operators.windows import global_rank_scalable

    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    ranked = global_rank_scalable(
        cust, ["cents", "o_custkey"], "r"
    ).select("cents", F.col("r").cast("bigint").alias("r"))
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
        F.sum(F.col("r").cast("decimal(38,0)") * F.col("cents")).alias("rx"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    num = (
        2 * F.col("rx") - (dec(F.col("n")) + 1) * dec(F.col("total_cents"))
    ) * 1000000
    den = dec(F.col("n")) * dec(F.col("total_cents"))
    # half-up in wide decimal: same floor identity as _half_up_div, with
    # every intermediate inside decimal(38,0)'s range
    a = num * 2 + den
    b = den * 2
    gini = ((a - F.pmod(a, b)) / b).cast("bigint")
    return s.select(
        F.col("n").alias("n_customers"),
        "total_cents",
        gini.alias("gini_ppm"),
    )


@_register(
    "regression_surface",
    f"""
    WITH m AS (
      SELECT l_returnflag,
             count(*)                                            AS n,
             sum(CAST(round(l_quantity) AS BIGINT))              AS sx,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT))   AS sy,
             sum(CAST(round(l_quantity) AS BIGINT)
                 * CAST(round(l_quantity) AS BIGINT))            AS sxx,
             sum(CAST(round(l_quantity) AS BIGINT)
                 * CAST(round(l_extendedprice * 100) AS BIGINT)) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           CAST({_sql_halfup('(n*sxy - sx*sy) * 1000000',
                             '(n*sxx - sx*sx) * 100')} AS DOUBLE)
             / 1000000.0 AS slope_dollars_per_qty,
           CAST({_sql_halfup('(sy*sxx - sx*sxy)',
                             '(n*sxx - sx*sx)')} AS DOUBLE)
             / 100.0 AS intercept_dollars,
           CAST({_sql_halfup('(n*sxy - sx*sy) * 10000',
                             '(n*n) * 100')} AS DOUBLE)
             / 10000.0 AS covar_pop_dollars
    FROM m
    """,
)
def regression_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS regression surface (regr_slope / regr_intercept / covar_pop) of
    extendedprice on quantity per returnflag — computed from exact integer
    moment sums (n, Σx, Σy, Σx², Σxy in quantity-units × price-cents), so
    the fitted coefficients are bit-identical across engines; the native
    regr_* aggregates sum doubles and drift in the last digits under
    parallel reduction. One shuffle (the groupBy); the closed forms
    slope = (nΣxy−ΣxΣy)/(nΣx²−(Σx)²), intercept = (ΣyΣx²−ΣxΣxy)/same
    are evaluated half-up in decimal(38,0) (hugeint in DuckDB). Magnitude
    budget: nΣxy·10⁶ ≈ 10²⁶ at sf0.1, far inside decimal(38)'s range —
    corr/r² are deliberately omitted, their cross-moment PRODUCT exceeds
    128-bit at TPC-H scale (would need a two-level rescale).
    """
    li = load_table(spark, sf_dir, "lineitem")
    xu = F.round(F.col("l_quantity")).cast("bigint")
    yc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(xu).cast("decimal(38,0)").alias("sx"),
        F.sum(yc).cast("decimal(38,0)").alias("sy"),
        F.sum(xu * xu).cast("decimal(38,0)").alias("sxx"),
        F.sum(xu * yc).cast("decimal(38,0)").alias("sxy"),
    )

    def halfup_wide(num, den):
        # floor((2·num+den)/(2·den)) with every intermediate decimal(38,0);
        # the subtraction makes the numerator an exact multiple, so the
        # decimal divide is exact (same identity as _half_up_div)
        a = num * 2 + den
        b = den * 2
        return ((a - F.pmod(a, b)) / b).cast("bigint")

    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    num_slope = n * sxy - sx * sy
    den_slope = n * sxx - sx * sx
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("n_rows"),
        (
            halfup_wide(num_slope * 1000000, den_slope * 100).cast("double")
            / 1000000.0
        ).alias("slope_dollars_per_qty"),
        (
            halfup_wide(sy * sxx - sx * sxy, den_slope).cast("double") / 100.0
        ).alias("intercept_dollars"),
        (
            halfup_wide(num_slope * 10000, n * n * 100).cast("double")
            / 10000.0
        ).alias("covar_pop_dollars"),
    )


_ARGMAX_SQL = """
    SELECT event_type,
           count(*) AS n,
           count(*) FILTER (WHERE CAST(round(value * 100) AS BIGINT) > 25000)
             AS n_high,
           CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                           FILTER (WHERE user_id % 2 = 0), 0) AS BIGINT)
             AS even_user_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT) * 1000000000000
                    + event_id) // 1000000000000 AS BIGINT)
             AS peak_value_cents,
           CAST(max(CAST(round(value * 100) AS BIGINT) * 1000000000000
                    + event_id) % 1000000000000 AS BIGINT)
             AS peak_event_id,
           CAST(min(CAST(round(value * 100) AS BIGINT) * 1000000000000
                    + event_id) // 1000000000000 AS BIGINT)
             AS low_value_cents,
           CAST(min(CAST(round(value * 100) AS BIGINT) * 1000000000000
                    + event_id) % 1000000000000 AS BIGINT)
             AS low_event_id
    FROM events
    GROUP BY event_type
"""


@_register("argmax_filter_surface", _ARGMAX_SQL)
def argmax_filter_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause + deterministic arg-max/arg-min per group.
    The native min_by/max_by break ties arbitrarily, so the argmax packs
    (value_cents, event_id) into one bigint — cents·10¹² + id — whose
    plain max/min is a total order: identical answers in any engine, any
    parallelism (the same trick as _assign_nearest's struct-max, here in
    pure int64; cents ≤ 5.7e4 and id < 10¹² keep the pack < 2⁶³). The
    FILTER clauses compile to conditional partial aggregates — no extra
    scan, no join. Oracle runs the byte-identical SQL (DuckDB `//` =
    Spark `div`-style integer division on bigints here).
    """
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(_ARGMAX_SQL.replace("//", "DIV"))


@_register(
    "collation_group_counts",
    """
    WITH toks AS (
      SELECT CASE WHEN hash(t) % 2 = 0 THEN upper(t) ELSE t END AS t2
      FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text),
                                                            '\\s+'),
                                      x -> x <> '')) AS t
            FROM documents)
    )
    SELECT lower(t2) AS token, count(*) AS n
    FROM toks GROUP BY 1 HAVING count(*) >= 10
    """,
)
def collation_group_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collated grouping (Spark 4 collations): tokens are re-cased by a
    deterministic hash, then grouped under ``COLLATE UTF8_LCASE`` — the
    engine's case-insensitive equality does the folding, not an explicit
    lower(). The emitted key is ``lower(ck)``: the group representative's
    case is engine-arbitrary (any member can win), but all members of a
    UTF8_LCASE group differ only by case, so lower() collapses them to
    one deterministic spelling — which is exactly the oracle's
    group-by-lower() twin. Note the hash() recase differs between
    engines; determinism comes from BOTH sides lower-folding, so the mix
    of cases is irrelevant to the result.
    """
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        r"""
        WITH toks AS (
          SELECT CASE WHEN hash(t) % 2 = 0 THEN upper(t) ELSE t END AS t2
          FROM (SELECT explode(filter(split(lower(text), '\\s+'),
                                      x -> x != '')) AS t
                FROM documents)
        )
        SELECT CAST(lower(ck) AS STRING) AS token, count(*) AS n
        FROM (SELECT t2 COLLATE UTF8_LCASE AS ck FROM toks)
        GROUP BY ck HAVING count(*) >= 10
        """
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?"


@_register(
    "pii_redact_stats",
    f"""
    WITH seeded AS (
      SELECT source,
             text || CASE WHEN doc_id % 5 = 0
                          THEN ' mail u' || CAST(doc_id AS VARCHAR)
                               || '@example.com now'
                          ELSE '' END
                  || CASE WHEN doc_id % 7 = 0
                          THEN ' call +62 812 5550 ' ||
                               CAST(1000 + doc_id % 9000 AS VARCHAR)
                          ELSE '' END AS t
      FROM documents
    ),
    red AS (
      SELECT source,
             len(regexp_extract_all(t, '{_PII_EMAIL}'))  AS n_email,
             len(regexp_extract_all(t, '{_PII_PHONE}'))  AS n_phone,
             regexp_replace(
               regexp_replace(t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g')            AS clean
      FROM seeded
    )
    SELECT source,
           count(*)                                    AS n_docs,
           CAST(sum(n_email) AS BIGINT)                AS emails_redacted,
           CAST(sum(n_phone) AS BIGINT)                AS phones_redacted,
           CAST(sum(CASE WHEN clean LIKE '%<EMAIL>%'
                          OR clean LIKE '%<PHONE>%'
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
           CAST(sum(len(clean)) AS BIGINT)             AS clean_chars
    FROM red GROUP BY source
    """,
)
def pii_redact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus PII scrubbing (functions/text.py::redact_pii): the synthetic
    documents carry no PII, so the query first SEEDS deterministic
    emails/phones by doc_id (identical expression on both engines), then
    redacts with the shared patterns — chosen to parse identically under
    Java regex and RE2 (no backrefs/lookaround) — and reports per-source
    redaction counts plus post-redaction character mass. Pure
    regexp_replace/regexp_count chain: codegen'd, no UDF, one shuffle.
    """
    from .functions.text import pii_counts, redact_pii

    docs = spread(load_table(spark, sf_dir, "documents"))
    seeded = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" mail u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" call +62 812 5550 "),
                    (1000 + F.col("doc_id") % 9000).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    red = seeded.select(
        "source",
        pii_counts(F.col("t"), "email").alias("n_email"),
        pii_counts(F.col("t"), "phone").alias("n_phone"),
        redact_pii(F.col("t"), kinds=("email", "phone")).alias("clean"),
    )
    return red.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails_redacted"),
        F.sum("n_phone").alias("phones_redacted"),
        F.sum(
            (
                F.col("clean").contains("<EMAIL>")
                | F.col("clean").contains("<PHONE>")
            ).cast("bigint")
        ).alias("docs_touched"),
        F.sum(F.length("clean")).alias("clean_chars"),
    )


@_register(
    "pit_scd2_lookup",
    """
    WITH o AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ), chg AS (
        SELECT user_id, event_type, ts, event_id
        FROM o WHERE prev IS NULL OR prev <> event_type
    ), scd AS (
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS vf,
               coalesce(strftime(lead(ts) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id),
                   '%Y-%m-%d %H:%M:%S'), '') AS vt
        FROM chg
    ), p AS (
        SELECT strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS t FROM events
        WHERE event_id <= (SELECT max(event_id) // 2 FROM events)
    )
    SELECT event_type, count(*) AS n_users
    FROM scd, p WHERE vf <= t AND (vt = '' OR t < vt)
    GROUP BY 1
    """,
)
def pit_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 dimension: how many users
    were in each status AT time T — the temporal-join shape every
    feature-store / training-label pipeline needs (no future leakage:
    the row whose [valid_from, valid_to) contains T, not the latest
    row). T is data-derived and deterministic (latest ts among the
    first half of event ids — a 1-row broadcast), and interval
    membership compares canonical timestamp STRINGS, the reference's
    own stringly-typed-time trick (lexicographic = chronological).
    Shape: one key-partitioned sort builds the intervals, a broadcast
    probe filters them — no data-sized join.
    """
    from .operators.scd import scd2_from_changes

    ev = load_table(spark, sf_dir, "events")
    scd = scd2_from_changes(
        ev, "user_id", [F.col("ts"), F.col("event_id")], ["event_type"]
    ).select(
        "user_id",
        "event_type",
        F.date_format("valid_from_0", "yyyy-MM-dd HH:mm:ss").alias("vf"),
        F.coalesce(
            F.date_format("valid_to_0", "yyyy-MM-dd HH:mm:ss"), F.lit("")
        ).alias("vt"),
    )
    half = ev.agg((F.max("event_id") / 2).cast("bigint").alias("h"))
    probe = (
        ev.crossJoin(F.broadcast(half))
        .where(F.col("event_id") <= F.col("h"))
        .agg(F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("t"))
    )
    return (
        scd.crossJoin(F.broadcast(probe))
        .where(
            (F.col("vf") <= F.col("t"))
            & ((F.col("vt") == "") | (F.col("t") < F.col("vt")))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@_register(
    "percentile_disc_surface",
    """
    SELECT event_type,
           quantile_disc(value, 0.25) AS p25,
           quantile_disc(value, 0.5)  AS p50,
           quantile_disc(value, 0.9)  AS p90,
           count(value) AS n
    FROM events GROUP BY event_type
    """,
)
def percentile_disc_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-set aggregate surface: ``percentile_disc(p) WITHIN GROUP``
    (SQL:2003 inverse-distribution). Discrete percentiles return an
    ACTUAL data value — no interpolation, no float synthesis — so raw
    doubles compare bit-exactly across engines (both Spark and DuckDB
    pick the lower element at even counts; probed before landing).
    Contrast with median_value_per_type, which pins the CONTINUOUS
    (interpolating) form.
    """
    from .sources.parquet import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY value) AS p25,
               percentile_disc(0.5)  WITHIN GROUP (ORDER BY value) AS p50,
               percentile_disc(0.9)  WITHIN GROUP (ORDER BY value) AS p90,
               count(value) AS n
        FROM events GROUP BY event_type
        """
    )


@_register(
    "weighted_median_price",
    """
    WITH u AS (
      SELECT l_returnflag AS rf,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(round(l_quantity) AS BIGINT) AS q
      FROM lineitem
    ), c AS (
      SELECT rf, cents, q,
             sum(q) OVER (PARTITION BY rf ORDER BY cents
                          RANGE BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cumq,
             sum(q) OVER (PARTITION BY rf) AS totq
      FROM u
    )
    SELECT rf AS l_returnflag,
           CAST(min(cents) AS DOUBLE) / 100.0 AS weighted_median_price,
           CAST(min(totq) AS BIGINT) AS total_qty
    FROM c WHERE 2 * cumq >= totq
    GROUP BY rf
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-WEIGHTED median price per returnflag — the smallest price
    whose cumulative quantity reaches half the group total (lower
    weighted median, an actual data value). The running sum uses a RANGE
    frame ordered by price alone, so equal-price rows share one
    cumulative value and the crossing point is order-invariant — no
    tie-break column needed, deterministic under any parallelism. All
    arithmetic in integer cents/units; 2·cum ≥ tot avoids the half-point
    division entirely. One shuffle (the window partition), reused by the
    final aggregate.
    """
    from pyspark.sql.window import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    u = li.select(
        F.col("l_returnflag").alias("rf"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.round(F.col("l_quantity")).cast("bigint").alias("q"),
    )
    wc = (
        W.partitionBy("rf")
        .orderBy("cents")
        .rangeBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("rf")
    c = u.select(
        "rf",
        "cents",
        F.sum("q").over(wc).alias("cumq"),
        F.sum("q").over(wt).alias("totq"),
    )
    return (
        c.where(2 * F.col("cumq") >= F.col("totq"))
        .groupBy(F.col("rf").alias("l_returnflag"))
        .agg(
            (F.min("cents").cast("double") / 100.0).alias(
                "weighted_median_price"
            ),
            F.min("totq").cast("bigint").alias("total_qty"),
        )
    )


@_register(
    "contamination_score_topk",
    f"""
    WITH t AS (SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, unnest({_sql_shingles(5)}) AS sh FROM t),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0),
    train AS (SELECT doc_id, sh FROM sh WHERE doc_id % 97 <> 0),
    per AS (
      SELECT train.doc_id,
             count(*) AS n_sh,
             count(bench.sh) AS n_hit
      FROM train LEFT JOIN bench ON train.sh = bench.sh
      GROUP BY 1
    )
    SELECT doc_id,
           CAST(n_sh AS BIGINT) AS n_shingles,
           CAST(n_hit AS BIGINT) AS n_overlap,
           CAST({_sql_halfup('n_hit * 1000000', 'n_sh')} AS BIGINT)
             AS contamination_ppm
    FROM per
    ORDER BY contamination_ppm DESC, doc_id ASC
    LIMIT 20
    """,
)
def contamination_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination SCORE — the graded companion to
    benchmark_decontaminate's binary flag: the share (exact ppm) of a
    training doc's distinct 5-gram shingles that appear in the held-out
    benchmark set, with the 20 worst offenders returned. Graded scores
    drive the real decontamination policy (drop above a threshold,
    downweight the tail) rather than all-or-nothing removal. Same scale
    shape as the flag form: benchmark shingles broadcast, corpus scanned
    once, the top-k is a TakeOrdered over per-doc aggregates.
    """
    from .functions.text import shingles

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col("text"), 5)).alias("sh")
    ).distinct()
    bench = sh.where(F.col("doc_id") % 97 == 0).select("sh").distinct()
    train = sh.where(F.col("doc_id") % 97 != 0)
    per = (
        train.join(
            F.broadcast(bench.withColumn("hit", F.lit(1))), "sh", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("hit").alias("n_hit"),
        )
    )
    return (
        per.select(
            "doc_id",
            F.col("n_sh").cast("bigint").alias("n_shingles"),
            F.col("n_hit").cast("bigint").alias("n_overlap"),
            _half_up_div(
                F.col("n_hit") * F.lit(1000000).cast("bigint"),
                F.col("n_sh"),
            ).alias("contamination_ppm"),
        )
        .orderBy(F.col("contamination_ppm").desc(), F.col("doc_id").asc())
        .limit(20)
    )


@_register("multimodal_features_real")  # rows-only: binary payload ops
def multimodal_features_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL multimodal decode exercised end-to-end from the registry:
    synthesize a small image per document (pixels derived from the
    text's md5 — deterministic), ship it as a binary payload through the
    Arrow mapInPandas pipeline — doc_id mod 4 picks the container:
    0 → PPM, 1 → GIF (LZW), 2 → baseline JPEG (Huffman+DCT, lossy —
    the per-source mean_r sums absorb the quantization error because
    the oracle-free rows-only check compares Spark to itself), 3 → PNG
    (scanline filter picked from the digest, so all five filter types
    flow through the stdlib decoder) — decode with the codec-free
    parsers, and aggregate the recovered dimensions and channel means
    per source. Rows-only check (binary payloads have no
    SQL twin); both decoders' correctness against numpy ground truth is
    pinned in tests/test_multimodal.py.
    """
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from .ext.multimodal import MEDIA_SCHEMA, extract_features_real

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )

    def make_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .ext.multimodal import encode_gif, encode_png, encode_ppm
        import numpy as np

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5((text or "").encode()).digest()
                w, h = 4 + digest[0] % 5, 4 + digest[1] % 5
                px = np.frombuffer(
                    (digest * ((w * h * 3) // 16 + 1))[: w * h * 3],
                    dtype=np.uint8,
                ).reshape(h, w, 3)
                if int(did) % 4 == 1:
                    # GIF is palette-based: 16 digest-derived colors,
                    # indices from the same pixel stream
                    pal = np.frombuffer(
                        (digest * 3)[:48], dtype=np.uint8
                    ).reshape(16, 3)
                    idx = (px[:, :, 0] % 16).astype(np.uint8)
                    payload = encode_gif(idx, pal)
                    mime = "image/gif"
                elif int(did) % 2:
                    payload = encode_png(px, filter_type=digest[2] % 5)
                    mime = "image/png"
                elif int(did) % 4 == 2:
                    from .ext.jpeg import encode_jpeg

                    # alternate the real-world layouts: half the JPEGs
                    # ship 4:2:0 chroma subsampling, a third of those
                    # also carry restart markers (DRI/RSTn), and the
                    # other half of the baseline rows ship PROGRESSIVE
                    # (SOF2) streams — the dominant web profile the
                    # round-6 decoder widened to
                    payload = encode_jpeg(
                        px,
                        quality=90,
                        subsampling="420" if int(did) % 8 == 2 else "444",
                        restart_interval=2 if int(did) % 24 == 2 else 0,
                        progressive=int(did) % 8 == 6,
                    )
                    mime = "image/jpeg"
                elif int(did) % 8 == 4:
                    from .ext.multimodal import encode_bmp

                    payload = encode_bmp(px)
                    mime = "image/bmp"
                else:
                    payload = encode_ppm(px)
                    mime = "image/x-ppm"
                rows.append(
                    (
                        int(did),
                        "image",
                        payload,
                        mime,
                        w,
                        h,
                        None,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "mime",
                    "width", "height", "duration_ms",
                ],
            )

    media = docs.mapInPandas(make_media, schema=MEDIA_SCHEMA)
    feats = extract_features_real(media)
    src = docs.select(F.col("doc_id").alias("media_id"), "source")
    return (
        feats.join(src, "media_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.sum(F.col("width") * F.col("height")).alias("total_pixels"),
            F.sum(
                F.round(F.col("mean_r").cast("double") * 10000).cast("bigint")
            ).alias("mean_r_e4_sum"),
        )
    )


@_register(
    "embedding_dim_stats",
    f"""
    WITH u AS (
      SELECT pos - 1 AS dim,
             CAST(round(CAST(comp AS DOUBLE) * 1000000) AS BIGINT) AS v
      FROM (SELECT generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS comp
            FROM embeddings)
    ), m AS (
      SELECT dim, count(*) AS n, sum(v) AS s1, sum(v * v) AS s2
      FROM u GROUP BY 1
    )
    SELECT CAST(dim AS INT) AS dim,
           CAST(n AS BIGINT) AS n,
           CAST({_sql_halfup('s1', 'n')} AS BIGINT) AS mean_u,
           CAST({_sql_halfup('n * s2 - s1 * s1', 'n * n')} AS BIGINT)
             AS var_u2
    FROM m
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding moments (mean, population variance) — the
    whitening/standardization prep for similarity search, computed on
    micro-units (component × 10⁶ rounded to bigint) so the moment sums
    are exact integers and both engines agree to the last digit; the
    closed forms evaluate half-up in decimal38/hugeint. One posexplode
    (64× narrow rows) + one 64-group aggregate — partial-agg combined,
    no window, no collect.
    """
    em = spread(load_table(spark, sf_dir, "embeddings"))
    u = em.select(
        F.posexplode("embedding").alias("dim", "comp")
    ).select(
        "dim",
        F.round(F.col("comp").cast("double") * 1000000)
        .cast("bigint")
        .alias("v"),
    )
    m = u.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )

    def dec(c):
        return c.cast("decimal(38,0)")

    n, s1, s2 = dec(F.col("n")), dec(F.col("s1")), dec(F.col("s2"))

    def halfup_wide(num, den):
        a = num * 2 + den
        b = den * 2
        return ((a - F.pmod(a, b)) / b).cast("bigint")

    return m.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        halfup_wide(s1, n).alias("mean_u"),
        halfup_wide(n * s2 - s1 * s1, n * n).alias("var_u2"),
    )


def _embedding_covariance_sql() -> str:
    num = "CAST(n AS HUGEINT) * sij - CAST(si AS HUGEINT) * sj"
    den = "CAST(n AS HUGEINT) * n"
    cov = f"CAST({_sql_halfup(num, den)} AS BIGINT)"
    return f"""
    WITH u AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS v
      FROM embeddings
    ), g AS (
      SELECT a.dim AS di, b.dim AS dj, count(*) AS n,
             sum(CAST(a.v AS HUGEINT)) AS si,
             sum(CAST(b.v AS HUGEINT)) AS sj,
             sum(CAST(a.v AS HUGEINT) * b.v) AS sij
      FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.dim < b.dim
      GROUP BY 1, 2
    )
    SELECT i, j, n, cov_u2 FROM (
      SELECT CAST(di - 1 AS INT) AS i, CAST(dj - 1 AS INT) AS j,
             CAST(n AS BIGINT) AS n, {cov} AS cov_u2
      FROM g
    ) ORDER BY abs(cov_u2) DESC, i, j LIMIT 20
    """


@_register("embedding_covariance_topk", _embedding_covariance_sql())
def embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 strongest off-diagonal covariance pairs of the embedding
    dimensions, in EXACT integer micro-units² — the cross-dim companion
    of `embedding_dim_stats` (redundant/correlated dimensions are what a
    quantizer or PCA prunes first). Components scale to µ-units
    (×10⁶ → bigint), all moment sums run in decimal(38)/HUGEINT so both
    engines agree to the last digit, and the covariance closed form
    n·Σxy − Σx·Σy evaluates half-up over n². Shape: one posexplode
    (64× narrow rows), a vec_id-keyed self-join bounded at dim²/2 pairs
    per vector, one dim-pair aggregate (d²/2 = 2016 groups at any corpus
    size — partial-agg combined), global top-k as TakeOrdered. At
    100 TB: the join fan-out is per-row (narrow), the aggregate output
    is dim²-bounded, and nothing collects beyond the 20-row result."""
    em = spread(load_table(spark, sf_dir, "embeddings"))
    u = em.select(
        "vec_id", F.posexplode("embedding").alias("dim", "comp")
    ).select(
        "vec_id",
        "dim",
        F.round(F.col("comp").cast("double") * 1000000)
        .cast("bigint")
        .alias("v"),
    )
    a = u.select("vec_id", F.col("dim").alias("i"), F.col("v").alias("va"))
    b = u.select("vec_id", F.col("dim").alias("j"), F.col("v").alias("vb"))

    def dec(c):
        return c.cast("decimal(38,0)")

    g = (
        a.join(b, on="vec_id")
        .where(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec(F.col("va"))).alias("si"),
            F.sum(dec(F.col("vb"))).alias("sj"),
            F.sum(dec(F.col("va")) * dec(F.col("vb"))).alias("sij"),
        )
    )
    n, si, sj, sij = (dec(F.col(c)) for c in ("n", "si", "sj", "sij"))
    num, den = n * sij - si * sj, n * n
    half_a, half_b = num * 2 + den, den * 2
    cov = ((half_a - F.pmod(half_a, half_b)) / half_b).cast("bigint")
    return (
        g.select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            F.col("n").cast("bigint").alias("n"),
            cov.alias("cov_u2"),
        )
        .orderBy(F.abs(F.col("cov_u2")).desc(), "i", "j")
        .limit(20)
    )




@_register(
    "key_skew_report",
    """
    WITH c AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n) AS BIGINT) AS total_rows,
           CAST(max(n) AS BIGINT) AS max_n,
           CAST(quantile_disc(n, 0.5) AS BIGINT) AS p50_n,
           CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_n,
           CAST((2 * max(n) * count(*) * 1000000 + sum(n))
                 // (2 * sum(n)) AS BIGINT) AS skew_ratio_ppm
    FROM c
    """,
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the measurement that decides between a
    plain shuffle join, AQE skew splitting, and the salted-join operator:
    per-key row counts reduced to key count, max, discrete p50/p99, and
    the max/mean ratio in exact ppm (half-up integer arithmetic; the
    discrete percentiles are integers, so every output is bit-stable).
    Cost: one partial-agg groupBy over the key + one 1-row reagg —
    exactly what you can afford to run before every big join.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return c.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("total_rows"),
        F.max("n").cast("bigint").alias("max_n"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("p50_n"),
        F.expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY n)")
        .cast("bigint")
        .alias("p99_n"),
        _half_up_div(
            F.max("n") * F.count(F.lit(1)) * F.lit(1000000).cast("bigint"),
            F.sum("n"),
        ).alias("skew_ratio_ppm"),
    )


@_register("theta_sketch_setops_users")  # rows-only: sketch binaries
def theta_sketch_setops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra (Spark 4 / Apache DataSketches): distinct
    users who clicked vs who purchased, with UNION / INTERSECTION /
    DIFFERENCE cardinalities estimated from mergeable sketches — the
    sketch-level answer to "overlap of two audiences" that at 100 TB
    replaces an exact distinct self-join with two KB-sized summaries.
    Exact counts ride along so the error is visible in the result (and
    bounded in tests). Rows-only check: sketch internals aren't SQL-
    portable; HLL cousins are pinned in hll_sketch_rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__ev_theta")
    return spark.sql(
        """
        WITH a AS (SELECT theta_sketch_agg(user_id) s,
                          count(DISTINCT user_id) AS exact_n
                   FROM __ev_theta WHERE event_type = 'click'),
             b AS (SELECT theta_sketch_agg(user_id) s,
                          count(DISTINCT user_id) AS exact_n
                   FROM __ev_theta WHERE event_type = 'purchase'),
             x AS (SELECT count(DISTINCT user_id) AS exact_i FROM (
                     SELECT user_id FROM __ev_theta
                     WHERE event_type = 'click'
                     INTERSECT
                     SELECT user_id FROM __ev_theta
                     WHERE event_type = 'purchase'))
        SELECT a.exact_n AS clickers,
               b.exact_n AS purchasers,
               theta_sketch_estimate(theta_union(a.s, b.s)) AS est_union,
               theta_sketch_estimate(theta_intersection(a.s, b.s))
                 AS est_intersection,
               theta_sketch_estimate(theta_difference(a.s, b.s))
                 AS est_click_only,
               x.exact_i AS exact_intersection
        FROM a, b, x
        """
    )


@_register("approx_topk_rollup_tokens")  # rows-only: sketch state binaries
def approx_topk_rollup_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable top-k rollup (Spark 4 approx_top_k_accumulate/combine):
    per-SOURCE token sketches combined into the global top-10 — the
    heavy-hitter twin of hll_sketch_rollup's distinct-count rollup, and
    the pattern that lets daily partitions keep KB-sized summaries which
    any date range combines in O(k) instead of rescanning tokens.
    Rows-only check (sketch state is engine-internal); exactness at this
    vocabulary size is pinned in tests/test_stats_sketches.py.
    """
    docs = spread(load_table(spark, sf_dir, "documents"))
    docs.select(
        "source", F.explode(F.split(F.lower("text"), r"\s+")).alias("t")
    ).where(F.col("t") != "").createOrReplaceTempView("__toks_roll")
    return spark.sql(
        """
        WITH per_source AS (
          SELECT source, approx_top_k_accumulate(t, 100000) AS st
          FROM __toks_roll GROUP BY source
        )
        SELECT tk.item AS token, tk.count AS n
        FROM (SELECT approx_top_k_estimate(
                        approx_top_k_combine(st), 10) AS tks
              FROM per_source)
        LATERAL VIEW explode(tks) AS tk
        """
    )


@_register(
    "corpus_datasheet",
    f"""
    WITH by_lang AS (
      SELECT lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY 1
    ),
    dups AS (
      SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) AS extra
      FROM (SELECT md5(text) h, count(*) c FROM documents GROUP BY 1
            HAVING count(*) > 1)
    ),
    toks AS (
      SELECT CAST(count(*) AS BIGINT) AS total,
             CAST(count(DISTINCT t) AS BIGINT) AS vocab
      FROM (SELECT unnest(nt) AS t FROM
            (SELECT {_NORM_TOKENS_SQL} AS nt FROM documents))
    )
    SELECT 'docs' AS metric, lang AS scope, CAST(docs AS BIGINT) AS value
    FROM by_lang
    UNION ALL
    SELECT 'chars', lang, chars FROM by_lang
    UNION ALL
    SELECT 'dup_docs_beyond_first', 'all', extra FROM dups
    UNION ALL
    SELECT 'tokens', 'all', total FROM toks
    UNION ALL
    SELECT 'vocab', 'all', vocab FROM toks
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call corpus data card (long format: metric, scope, value) —
    the datasheet a training run records before consuming a corpus:
    per-language doc/char mass, exact-duplicate excess, token volume and
    vocabulary size. Every value an exact integer; composed from the
    same building blocks the individual queries use (hash dedup groups,
    normalized tokens), so the datasheet can't drift from the operators
    it summarizes. Three scans of one small-per-doc projection, each a
    partial-agg pipeline; union of tiny results.
    """
    from .functions.text import tokens as norm_tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    by_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    dups = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
            .cast("bigint")
            .alias("extra")
        )
    )
    tok = docs.select(F.explode(norm_tokens(F.col("text"))).alias("t")).agg(
        F.count(F.lit(1)).cast("bigint").alias("total"),
        F.count_distinct("t").cast("bigint").alias("vocab"),
    )
    return (
        by_lang.select(
            F.lit("docs").alias("metric"),
            F.col("lang").alias("scope"),
            F.col("docs").cast("bigint").alias("value"),
        )
        .unionByName(
            by_lang.select(
                F.lit("chars").alias("metric"),
                F.col("lang").alias("scope"),
                F.col("chars").alias("value"),
            )
        )
        .unionByName(
            dups.select(
                F.lit("dup_docs_beyond_first").alias("metric"),
                F.lit("all").alias("scope"),
                F.col("extra").alias("value"),
            )
        )
        .unionByName(
            tok.select(
                F.lit("tokens").alias("metric"),
                F.lit("all").alias("scope"),
                F.col("total").alias("value"),
            )
        )
        .unionByName(
            tok.select(
                F.lit("vocab").alias("metric"),
                F.lit("all").alias("scope"),
                F.col("vocab").alias("value"),
            )
        )
    )


@_register(
    "snapshot_table_lifecycle",
    # The observable lifecycle output IS deterministic, so it gets a SQL
    # twin after all: v1 = |region|, v2 = |region|+|nation|, v3 = same
    # (the merge's upsert of an existing key and insert+delete cancel;
    # the merge commit records op 'merge').
    """
    SELECT CAST(1 AS INT) AS version, 'append' AS op,
           (SELECT count(*) FROM region) AS n_rows
    UNION ALL
    SELECT 2, 'append',
           (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
    UNION ALL
    SELECT 3, 'merge',
           (SELECT count(*) FROM region) + (SELECT count(*) FROM nation)
    """,
)
def snapshot_table_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transactional table exercised end-to-end from the registry:
    append region names, append nation names, MERGE an upsert+delete log,
    then report each version's row count and op plus the post-merge key
    count — all deterministic integers. Writes under a fresh temp dir
    (the registry contract is read-only on sf_dir, not on /tmp);
    rows-only check (the table layout has no SQL twin). Full semantics
    are pinned in tests/test_snapshots.py (12 tests + a hypothesis
    python-replay property).
    """
    import tempfile

    from .snapshots import snapshot_history, snapshot_merge, snapshot_read, snapshot_write

    tmp = tempfile.mkdtemp(prefix="snap_q_")
    path = f"{tmp}/t"
    r = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("k"), F.col("r_name").alias("v")
    )
    n = load_table(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") + 100).alias("k"), F.col("n_name").alias("v")
    )
    snapshot_write(r, path)
    snapshot_write(n, path)
    changes = spark.createDataFrame(
        [(0, "ZZZ", 1, "U"), (101, None, 1, "D"), (999, "NEW", 1, "U")],
        "k INT, v STRING, seq INT, op STRING",
    )
    snapshot_merge(spark, path, changes, ["k"])
    rows = []
    for h in snapshot_history(path):
        cnt = snapshot_read(spark, path, version=h["version"]).count()
        rows.append((h["version"], h["op"], cnt))
    return spark.createDataFrame(
        rows, "version INT, op STRING, n_rows BIGINT"
    )


@_register(
    "srp_lsh_ann_topk",
    f"""
    WITH hp AS (
        SELECT tt.t, bb.i,
               list_transform(range(0, 64), c ->
                   CASE WHEN substr(md5(printf('srp:%d:%d:%d', tt.t, bb.i, c)), 1, 1)
                        IN ('0','1','2','3','4','5','6','7')
                        THEN 1.0 ELSE -1.0 END) AS r
        FROM (SELECT unnest(range(0, 4)) AS t) tt,
             (SELECT unnest(range(0, 8)) AS i) bb
    ), sigs AS (
        SELECT e.vec_id, hp.t,
               CAST(sum(CASE WHEN list_sum(list_transform(range(0, 64), c ->
                        CAST(e.embedding[c + 1] AS DOUBLE) * hp.r[c + 1])) > 0
                        THEN (CAST(1 AS BIGINT) << hp.i) ELSE 0 END)
                    AS BIGINT) AS sig
        FROM embeddings e CROSS JOIN hp
        GROUP BY e.vec_id, hp.t
    ), cand AS (
        SELECT DISTINCT q.vec_id AS query_id, s.vec_id
        FROM sigs s JOIN sigs q ON s.t = q.t AND s.sig = q.sig
        WHERE q.vec_id < 5 AND s.vec_id <> q.vec_id
    ), scored AS (
        SELECT c.query_id, c.vec_id,
               {{cos}} AS cosine
        FROM cand c
        JOIN embeddings e ON e.vec_id = c.vec_id
        JOIN embeddings q ON q.vec_id = c.query_id
    )
    SELECT query_id, vec_id, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
        ) AS INT) AS rank
        FROM scored
    ) WHERE rank <= 10
    """.replace("{cos}", _cos_sql("e.embedding", "q.embedding")),
)
def srp_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH ANN with a FULL DuckDB oracle
    (ext/similarity.py::lsh_bucketed_topk): 4 tables × 8-bit SRP
    signatures over md5-derived ±1 hyperplanes (deterministic, no stored
    model, bit-identical across engines since the dot product is the
    same sequential double fold) → bucket equi-join for candidates →
    exact cosine rank on candidates only. The oracle replicates the
    ENTIRE approximate pipeline — signatures, buckets, candidate set,
    ranking — so the driver's hash check certifies the LSH path itself,
    not just a brute-force stand-in. Scale: corpus signatures are one
    narrow pass, candidates are bounded by bucket collisions (uniform
    8-bit keys), the query side broadcasts."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_bucketed_topk(
        emb, queries, k=10, dim=64, n_bits=8, tables=4
    )


@_register(
    "crossdoc_repeated_ngrams",
    f"""
    WITH toks AS (SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents),
    g AS (
        SELECT doc_id,
               substr(md5(array_to_string(t[p + 1:p + 8], ' ')), 1, 16) AS sh
        FROM toks, unnest(range(0, greatest(len(t) - 7, 0))) AS u(p)
    ),
    d AS (
        SELECT sh FROM g GROUP BY sh HAVING min(doc_id) <> max(doc_id)
    ),
    per AS (
        SELECT g.doc_id, CAST(count(*) AS BIGINT) AS dup_ngrams
        FROM g JOIN d USING (sh) GROUP BY g.doc_id
    )
    SELECT t.doc_id,
           CAST(greatest(len(t.t) - 7, 0) AS BIGINT) AS n_ngrams,
           CAST(coalesce(per.dup_ngrams, 0) AS BIGINT) AS dup_ngrams,
           CASE WHEN len(t.t) >= 8
                THEN CAST(coalesce(per.dup_ngrams, 0) * 10000
                          // (len(t.t) - 7) AS BIGINT)
           END AS dup_bp
    FROM toks t LEFT JOIN per USING (doc_id)
    """,
)
def crossdoc_repeated_ngrams_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated 8-gram spans (ext/dedup_text.py::
    crossdoc_repeated_ngrams): the Lee-et-al substring-duplication
    signal at shingle granularity — per doc, how many of its 8-gram
    positions carry an 8-gram occurring in ≥1 other document, as an
    exact integer basis-point fraction. "≥2 distinct docs" is
    min(id)≠max(id) per shingle key — exact and partial-aggregatable,
    no count_distinct set carriage; only (id, 16-hex-key) pairs ever
    shuffle."""
    return crossdoc_repeated_ngrams(
        load_table(spark, sf_dir, "documents"), n=8
    )


# Shared DuckDB CTE chain ending in ``fp(doc_id, pos, h)`` — the twin of
# ext/dedup_text.py::winnow_fingerprints with k=3, w=4: normalized-token
# 3-gram 56-bit hashes, per-window rightmost-min selection via the same
# ``min(h·16 + (end − pos))`` packing, distinct selected positions.
_WINNOW_FP_CTE = f"""
    WITH toks AS (SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents),
    kg AS (
        SELECT doc_id, len(t) - 2 AS m, p + 1 AS pos,
               ('0x' || substr(md5(array_to_string(t[p + 1:p + 3], ' ')),
                               1, 14))::BIGINT AS h
        FROM toks, unnest(range(0, greatest(len(t) - 2, 0))) AS u(p)
    ),
    win AS (
        SELECT doc_id, s, least(s + 3, m) AS e,
               h * 16 + least(s + 3, m) - pos AS packed
        FROM (SELECT doc_id, m, pos, h,
                     unnest(generate_series(
                         greatest(pos - 3, 1),
                         least(pos, greatest(m - 3, 1)))) AS s
              FROM kg)
    ),
    sel AS (SELECT doc_id, s, e, min(packed) AS p
            FROM win GROUP BY 1, 2, 3),
    fp AS (SELECT DISTINCT doc_id, e - (p % 16) AS pos, p // 16 AS h
           FROM sel)
"""


@_register(
    "winnowing_fingerprints",
    _WINNOW_FP_CTE
    + """,
    per AS (SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY 1),
    xr AS (SELECT doc_id, bit_xor(h) AS fp_xor
           FROM (SELECT DISTINCT doc_id, h FROM fp) GROUP BY 1)
    SELECT t.doc_id,
           CAST(greatest(len(t.t) - 2, 0) AS BIGINT) AS n_kgrams,
           CAST(coalesce(per.n_fp, 0) AS BIGINT) AS n_fp,
           CASE WHEN len(t.t) >= 3
                THEN CAST(coalesce(per.n_fp, 0) * 1000000
                          // (len(t.t) - 2) AS BIGINT)
           END AS density_ppm,
           xr.fp_xor
    FROM toks t LEFT JOIN per USING (doc_id) LEFT JOIN xr USING (doc_id)
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) document fingerprints (Schleimer et al. 2003,
    SIGMOD), per-document audit: k-gram count, selected-fingerprint
    count, selection density in exact ppm (the paper's expectation is
    2/(w+1) ≈ 400000 for w=4), and an order-free bit_xor digest of the
    distinct selected hashes — equal digests ⇒ near-certainly equal
    fingerprint sets, the cheap first-pass comparison. The whole
    pipeline — 3-gram 56-bit hashes, the ×w window fan-out, the
    rightmost-min packed selection — is replayed in the oracle, so the
    hash match certifies the ALGORITHM, not just the summary. 100 TB:
    zero window functions and zero sorts; a bounded ×4 fan-out of (id,
    pos, hash) triples, per-doc partial-agg group keys, text never
    shuffles (ext/dedup_text.py::winnow_fingerprints)."""
    from .ext.dedup_text import winnow_fingerprints

    docs = spread(load_table(spark, sf_dir, "documents"))
    fp = winnow_fingerprints(docs, k=3, w=4)
    per = fp.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fp")
    )
    xr = (
        fp.select("doc_id", "h")
        .distinct()
        .groupBy("doc_id")
        .agg(F.expr("bit_xor(h)").alias("fp_xor"))
    )
    from .functions.text import tokens as _tokens

    tot = docs.select(
        "doc_id",
        F.greatest(F.size(_tokens(F.col("text"))) - 2, F.lit(0))
        .cast("bigint")
        .alias("n_kgrams"),
    )
    return (
        tot.join(per, "doc_id", "left")
        .join(xr, "doc_id", "left")
        .select(
            "doc_id",
            "n_kgrams",
            F.coalesce("n_fp", F.lit(0)).cast("bigint").alias("n_fp"),
            F.when(
                F.col("n_kgrams") > 0,
                F.expr("coalesce(n_fp, 0) * 1000000 div n_kgrams"),
            ).cast("bigint").alias("density_ppm"),
            "fp_xor",
        )
    )


@_register(
    "winnowing_overlap_pairs",
    _WINNOW_FP_CTE
    + """,
    dfp AS (SELECT DISTINCT doc_id, h FROM fp),
    hot AS (SELECT h FROM dfp GROUP BY h HAVING count(*) <= 32),
    capped AS (SELECT dfp.* FROM dfp JOIN hot USING (h)),
    sizes AS (SELECT doc_id, count(*) AS nf FROM dfp GROUP BY 1),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(*) AS shared
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           CAST(shared AS BIGINT) AS shared,
           CAST(shared * 1000000 // least(sa.nf, sb.nf) AS BIGINT)
               AS overlap_ppm
    FROM pairs
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY shared DESC, doc_a, doc_b LIMIT 20
    """,
)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document winnowing overlap (the MOSS plagiarism report):
    documents pair through SHARED selected fingerprints — an equi-join
    on the fingerprint hash, never an all-pairs comparison — scored by
    shared count and containment ppm (shared · 10⁶ div min fingerprint
    count). Hashes selected in more than 32 documents are dropped
    before pairing (the df-cap quadratic control, same role as the
    stop-shingle cut in ngram_jaccard_pairs); the cap is replayed in
    the oracle so the certified answer includes the cap rule. Top 20
    by (shared DESC, doc_a, doc_b) — a total order. 100 TB: pair
    fan-out bounded by df-cap² per hash; only (id, 8-byte hash) pairs
    shuffle; TakeOrdered top-k, no global sort."""
    from .ext.dedup_text import winnow_fingerprints

    docs = spread(load_table(spark, sf_dir, "documents"))
    dfp = winnow_fingerprints(docs, k=3, w=4).select("doc_id", "h").distinct()
    hot = dfp.groupBy("h").agg(F.count(F.lit(1)).alias("__df")).where(
        F.col("__df") <= 32
    ).select("h")
    capped = dfp.join(hot, "h")
    sizes = dfp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    a = capped.select(F.col("doc_id").alias("doc_a"), "h")
    b = capped.select(F.col("doc_id").alias("doc_b"), "h")
    pairs = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
        .select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            "shared",
            F.expr("shared * 1000000 div least(na, nb)")
            .cast("bigint")
            .alias("overlap_ppm"),
        )
        .orderBy(F.col("shared").desc(), "doc_a", "doc_b")
        .limit(20)
    )


@_register(
    "incremental_agg_view_orders",
    """
    WITH final AS (
        SELECT o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey % 17 <> 0
        UNION ALL
        SELECT o_orderpriority, o_totalprice FROM orders
        WHERE o_orderkey % 19 = 0
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0) AS sum_total
    FROM final GROUP BY 1
    """,
)
def incremental_agg_view_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance (ext/matview.py): the
    per-priority (count, sum) view is built once from the base table,
    then a change batch (deletes of every 17th key, re-inserts of every
    19th) is folded in by the counting algorithm — signed delta
    aggregation sized by the BATCH, merged by one union+re-aggregate —
    never rescanning the base. The oracle recomputes the final state
    from scratch, so a hash match certifies incremental == full
    recompute. Sums are maintained in integer cents (exact under +/−
    churn; float state would drift)."""
    from .ext.matview import build_agg_view, delta_agg, merge_view

    orders = load_table(spark, sf_dir, "orders")
    cents = _units(F.col("o_totalprice"), 2)
    view0 = build_agg_view(
        orders, ["o_orderpriority"], measures={"cents": cents}
    )
    deletes = orders.where(F.col("o_orderkey") % 17 == 0).withColumn(
        "op", F.lit("D")
    )
    inserts = orders.where(F.col("o_orderkey") % 19 == 0).withColumn(
        "op", F.lit("I")
    )
    changes = deletes.unionByName(inserts)
    delta = delta_agg(
        changes, ["o_orderpriority"], measures={"cents": cents}
    )
    merged = merge_view(view0, delta, ["o_orderpriority"])
    return merged.select(
        "o_orderpriority",
        "n_rows",
        (F.col("cents") / F.lit(100.0)).alias("sum_total"),
    )


@_register(
    "linear_interp_gap_fill",
    f"""
    WITH e AS (
        SELECT event_id, user_id, ts, epoch_us(ts) AS te,
               CASE WHEN event_id % 11 = 0 THEN NULL
                    ELSE CAST(round(value * 100) AS BIGINT) END AS vc
        FROM events
    ), w AS (
        SELECT *,
               last_value(CASE WHEN vc IS NOT NULL
                               THEN {{'t': te, 'v': vc}} END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY te, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS p,
               first_value(CASE WHEN vc IS NOT NULL
                                THEN {{'t': te, 'v': vc}} END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY te, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS n
        FROM e
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS t,
           CAST(vc AS DOUBLE) / 100.0 AS v,
           CAST(CASE WHEN vc IS NOT NULL THEN vc
                WHEN p IS NOT NULL AND n IS NOT NULL THEN
                  CASE WHEN n.t > p.t
                       THEN p.v + {_sql_halfup(
                           "(n.v - p.v)::HUGEINT * (te - p.t)",
                           "n.t - p.t")}
                       ELSE p.v END
           END AS DOUBLE) / 100.0 AS filled
    FROM w
    """,
)
def linear_interp_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of missing readings (ext/timeseries.py::
    linear_interpolate) — the continuous-measure upgrade of
    locf_gap_fill: a planted-missing row (event_id % 11) between two of
    the user's observations gets the time-weighted value, round-half-up
    in exact integer cents so both engines land on the same integer;
    edge gaps stay NULL. Clock is unix MICROseconds (second-rounding
    differs across engines); only timestamp DIFFERENCES enter the math,
    so the session-timezone offset cancels. One shuffle on user_id."""
    from .ext.timeseries import linear_interpolate

    ev = load_table(spark, sf_dir, "events")
    vc = F.when(
        F.col("event_id") % 11 == 0, F.lit(None).cast("bigint")
    ).otherwise(_units(F.col("value"), 2))
    d = ev.withColumn("__vc", vc)
    out = linear_interpolate(
        d,
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")),
        "event_id",
        F.col("__vc"),
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("t"),
        (F.col("__vc") / F.lit(100.0)).alias("v"),
        (F.col("filled_units") / F.lit(100.0)).alias("filled"),
    )


@_register(
    "skyline_parts",
    """
    WITH s AS (
        SELECT p_partkey,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_c,
               p_size
        FROM part WHERE p_partkey % 3 = 0
    )
    SELECT p_partkey, price_c, p_size
    FROM s p
    WHERE NOT EXISTS (
        SELECT 1 FROM s q
        WHERE q.price_c <= p.price_c AND q.p_size <= p.p_size
          AND (q.price_c < p.price_c OR q.p_size < p.p_size)
    )
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (operators/skyline.py::skyline_2d):
    the non-dominated (cheapest, smallest) parts under minimize-both
    dominance. The engine runs the scalable reduction — per-price min
    size + ONE bucketed exclusive prefix-min over the distinct-price
    table (no global sort, no self-join); the DuckDB oracle is the
    brute-force quadratic NOT EXISTS, so a hash match proves the
    reduction's dominance algebra, including equal-point and same-price
    tie handling."""
    from .operators.skyline import skyline_2d

    pts = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_partkey") % 3 == 0)
        .select(
            "p_partkey",
            _units(F.col("p_retailprice"), 2).alias("price_c"),
            "p_size",
        )
    )
    return skyline_2d(pts, "price_c", "p_size")


@_register(
    "hash_range_reconcile_orders",
    """
    WITH l AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v1,
               o_orderstatus AS v2
        FROM orders
    ), r AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT)
                 + CASE WHEN o_orderkey % 31 = 0 THEN 100 ELSE 0 END AS v1,
               o_orderstatus AS v2
        FROM orders WHERE o_orderkey % 23 <> 0
    ), fl AS (
        SELECT ('0x' || substr(md5(
                   CASE WHEN k IS NULL THEN 'n'
                        ELSE 'v' || md5(CAST(k AS VARCHAR)) END
               ), 1, 15))::BIGINT % 64 AS bucket,
               ('0x' || substr(md5(
                   CASE WHEN k IS NULL THEN 'n'
                        ELSE 'v' || md5(CAST(k AS VARCHAR)) END
                || CASE WHEN v1 IS NULL THEN 'n'
                        ELSE 'v' || md5(CAST(v1 AS VARCHAR)) END
                || CASE WHEN v2 IS NULL THEN 'n'
                        ELSE 'v' || md5(v2) END
               ), 1, 15))::BIGINT AS d
        FROM l
    ), fr AS (
        SELECT ('0x' || substr(md5(
                   CASE WHEN k IS NULL THEN 'n'
                        ELSE 'v' || md5(CAST(k AS VARCHAR)) END
               ), 1, 15))::BIGINT % 64 AS bucket,
               ('0x' || substr(md5(
                   CASE WHEN k IS NULL THEN 'n'
                        ELSE 'v' || md5(CAST(k AS VARCHAR)) END
                || CASE WHEN v1 IS NULL THEN 'n'
                        ELSE 'v' || md5(CAST(v1 AS VARCHAR)) END
                || CASE WHEN v2 IS NULL THEN 'n'
                        ELSE 'v' || md5(v2) END
               ), 1, 15))::BIGINT AS d
        FROM r
    ), al AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_l,
               bit_xor(d) AS x_l FROM fl GROUP BY bucket
    ), ar AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS n_r,
               bit_xor(d) AS x_r FROM fr GROUP BY bucket
    )
    SELECT coalesce(al.bucket, ar.bucket) AS bucket,
           coalesce(n_l, 0) AS n_l, coalesce(n_r, 0) AS n_r,
           coalesce(x_l, 0) AS x_l, coalesce(x_r, 0) AS x_r
    FROM al FULL JOIN ar ON al.bucket = ar.bucket
    WHERE coalesce(n_l, 0) <> coalesce(n_r, 0)
       OR coalesce(x_l, 0) <> coalesce(x_r, 0)
    """,
)
def hash_range_reconcile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy reconciliation (operators/diff.py::
    hash_range_reconcile): orders vs a drifted replica (every 23rd key
    dropped, every 31st price nudged) — 64 key-digest buckets, each side
    folds to (count, XOR-of-row-digests) per bucket, only disagreeing
    buckets survive. The shuffle carries 2x64 rows however large the
    table; money is digested as exact integer cents so the row digest is
    engine-portable (double->string formatting is not)."""
    from .operators.diff import hash_range_reconcile

    orders = load_table(spark, sf_dir, "orders")
    lhs = orders.select(
        F.col("o_orderkey").alias("k"),
        _units(F.col("o_totalprice"), 2).alias("v1"),
        F.col("o_orderstatus").alias("v2"),
    )
    rhs = (
        orders.where(F.col("o_orderkey") % 23 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (
                _units(F.col("o_totalprice"), 2)
                + F.when(F.col("o_orderkey") % 31 == 0, F.lit(100)).otherwise(
                    F.lit(0)
                )
            ).alias("v1"),
            F.col("o_orderstatus").alias("v2"),
        )
    )
    return hash_range_reconcile(lhs, rhs, ["k"], ["v1", "v2"], n_buckets=64)


@_register(
    "rolling_median_5",
    """
    SELECT event_id, user_id,
           CAST(vc AS DOUBLE) / 100.0 AS v,
           median(vc) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING
           ) / 100.0 AS med
    FROM (
        SELECT event_id, user_id, ts,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
    )
    """,
)
def rolling_median_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact median over a centered 5-row window per user — the
    robust-smoothing twin of rolling_3row_avg. Exactness across engines:
    the measure is integer cents, and both Spark's percentile(_, 0.5)
    and DuckDB's median use linear interpolation, whose only fractional
    case here is (a+b)/2 of two bigints — exactly representable in a
    double, so edge frames (even counts) compare exactly too. One
    shuffle on user_id, O(frame) state per row."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 2)
    )
    vc = _units(F.col("value"), 2)
    return ev.withColumn("__vc", vc).select(
        "event_id",
        "user_id",
        (F.col("__vc") / F.lit(100.0)).alias("v"),
        (F.expr("percentile(__vc, 0.5D)").over(w) / F.lit(100.0)).alias(
            "med"
        ),
    )


@_register(
    "equidepth_histogram_totalprice",
    """
    WITH t AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey,
               ntile(10) OVER (ORDER BY round(o_totalprice * 100),
                               o_orderkey) AS bin
        FROM orders
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n,
           min(cents) AS lo_cents, max(cents) AS hi_cents
    FROM t GROUP BY bin
    """,
)
def equidepth_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (the quantile-bucket twin of the equi-width
    histogram_totalprice): 10 equal-population bins over order value via
    operators/windows.py::scalable_ntile — global tile assignment with
    NO single-reducer sort (range-bucketed rank + closed-form SQL tile
    arithmetic), then per-bin count/min/max. The oracle runs DuckDB's
    native ntile over the same total order, so the match certifies the
    scalable tile arithmetic including the T%n remainder tiles."""
    from .operators.windows import scalable_ntile

    orders = load_table(spark, sf_dir, "orders").select(
        _units(F.col("o_totalprice"), 2).alias("cents"), "o_orderkey"
    )
    tiled = scalable_ntile(orders, ["cents", "o_orderkey"], 10, "bin")
    return tiled.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


@_register(
    "ohlc_hourly_value",
    """
    WITH e AS (
        SELECT event_type,
               strftime(ts, '%Y-%m-%d %H') AS hour,
               epoch_us(ts) AS te, event_id,
               CAST(round(value * 100) AS BIGINT) AS vc
        FROM events
    )
    SELECT event_type, hour,
           (min({'t': te, 'e': event_id, 'v': vc})).v AS open_c,
           max(vc) AS high_c,
           min(vc) AS low_c,
           (max({'t': te, 'e': event_id, 'v': vc})).v AS close_c,
           CAST(count(*) AS BIGINT) AS n
    FROM e GROUP BY 1, 2
    """,
)
def ohlc_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the candlestick resample every metrics/ticker
    pipeline needs): per (type, hour), open = value at the earliest
    (ts, event_id), close at the latest, high/low = max/min — open and
    close via lexicographic struct-min/max (argmin/argmax with a total
    order, so ties are deterministic), all in ONE partial-aggregatable
    pass: no window, no self-join, shuffle carries one row per group.
    Timestamps enter the structs as epoch MICROseconds (the session-tz
    offset is constant, so the ordering — the only thing used — is
    engine-independent)."""
    ev = load_table(spark, sf_dir, "events")
    te = F.unix_micros(F.col("ts").cast("timestamp"))
    vc = _units(F.col("value"), 2)
    d = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
        te.alias("__te"),
        "event_id",
        vc.alias("__vc"),
    )
    obs = F.struct(
        F.col("__te").alias("t"),
        F.col("event_id").alias("e"),
        F.col("__vc").alias("v"),
    )
    return d.groupBy("event_type", "hour").agg(
        F.min(obs).getField("v").alias("open_c"),
        F.max("__vc").alias("high_c"),
        F.min("__vc").alias("low_c"),
        F.max(obs).getField("v").alias("close_c"),
        F.count(F.lit(1)).alias("n"),
    )


@_register(
    "regex_extract_all_surface",
    """
    SELECT doc_id,
           coalesce(array_to_string(regexp_extract_all(text, '[0-9]+'),
               ','), '') AS all_nums,
           CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS INT)
               AS n_cap_words,
           split_part(text, ' ', 2) AS second_token,
           coalesce(array_to_string(list_sort(list_distinct(
               regexp_extract_all(lower(text), '[a-z]{12,}'))), '|'), '')
               AS long_words
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def regex_extract_all_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract-ALL regex surface (string_surface_docs covers first-match
    only): every numeric run joined to one string, capitalized-word
    count, positional split_part, and the sorted-distinct set of long
    words — generator-free (regexp_extract_all returns the array
    directly), narrow projection, scan-level filter. Patterns stay in
    the Java∩RE2 common subset; arrays are sorted+joined so the compare
    is order-insensitive."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % 5 == 0
    )
    # idx=0 (whole match) is REQUIRED: these patterns have no capture
    # groups, and Spark's regexp_extract_all defaults to group 1 — which
    # throws REGEX_GROUP_INDEX at runtime on the first matching row (the
    # sf corpora happen to contain no digits, so a missing idx would be
    # invisible to the oracle gate; the pytest below plants matches).
    return docs.select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0), ","
        ).alias("all_nums"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Z][a-z]+"), 0)
        ).alias("n_cap_words"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(2)).alias(
            "second_token"
        ),
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.regexp_extract_all(
                        F.lower(F.col("text")), F.lit(r"[a-z]{12,}"), 0
                    )
                )
            ),
            "|",
        ).alias("long_words"),
    )


@_register(
    "source_vocab_overlap",
    f"""
    WITH v AS (
        SELECT DISTINCT source, unnest({_NORM_TOKENS_SQL}) AS token
        FROM documents
    ), sizes AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY source
    ), inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_common
        FROM v a JOIN v b ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, n_common, sa.n AS n_a, sb.n AS n_b,
           CAST(n_common * 10000 // (sa.n + sb.n - n_common) AS BIGINT)
               AS jaccard_bp
    FROM inter
    JOIN sizes sa ON sa.source = src_a
    JOIN sizes sb ON sb.source = src_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-similarity audit: pairwise vocabulary Jaccard between
    sources (which slices of the corpus speak the same language?) —
    distinct (source, token) once, token-keyed self-join counts the
    intersection per ordered pair, union size by inclusion–exclusion,
    similarity as exact integer basis points. The join key is the token
    (uniform, high-cardinality — no skew); with S sources a token in k
    sources contributes k(k-1)/2 pair rows, bounded by S²/2 per token.
    No per-pair rescan of the corpus."""
    from .functions.text import tokens

    v = (
        load_table(spark, sf_dir, "documents")
        .select("source", F.explode(tokens(F.col("text"))).alias("token"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = v.select(F.col("source").alias("src_a"), "token")
    b = v.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, "token")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(
        F.col("source").alias("src_a"), F.col("n").alias("n_a")
    )
    sb = sizes.select(
        F.col("source").alias("src_b"), F.col("n").alias("n_b")
    )
    out = inter.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
    # `div` = exact integer division, matching the oracle's `//`
    return out.select(
        "src_a",
        "src_b",
        "n_common",
        "n_a",
        "n_b",
        F.expr("n_common * 10000 div (n_a + n_b - n_common)").alias(
            "jaccard_bp"
        ),
    )


@_register(
    "bfs_levels_graph",
    """
    WITH RECURSIVE base AS (
        SELECT DISTINCT o_custkey % 1000 AS a, o_orderkey % 1000 AS b
        FROM orders
        WHERE o_orderkey % 10 = 0 AND o_custkey % 1000 <> o_orderkey % 1000
    ), e AS (SELECT a AS src, b AS dst FROM base
             UNION SELECT b, a FROM base),
    walk AS (
        SELECT CAST(0 AS BIGINT) AS node, 0 AS level
        UNION
        SELECT e.dst, walk.level + 1 FROM walk, e
        WHERE e.src = walk.node AND walk.level < 30
    )
    SELECT node, CAST(min(level) AS INT) AS level FROM walk GROUP BY node
    """,
)
def bfs_levels_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest-path levels (ext/graph.py::bfs_levels)
    over the same synthesized residue graph as triangle_count: the
    engine runs frontier iteration (frontier-sized shuffles, O(diameter)
    rounds, localCheckpoint lineage discipline); the oracle is a
    recursive CTE whose min(level) per node equals BFS distance — so a
    hash match certifies the iterative algorithm against SQL recursion
    semantics, including the unreachable-component exclusion."""
    from .ext.graph import bfs_levels

    o = load_table(spark, sf_dir, "orders")
    edges = o.where(
        (F.col("o_orderkey") % 10 == 0)
        & (F.col("o_custkey") % 1000 != F.col("o_orderkey") % 1000)
    ).select(
        (F.col("o_custkey") % 1000).alias("src"),
        (F.col("o_orderkey") % 1000).alias("dst"),
    )
    # max_iter MUST equal the oracle's recursion cap (walk.level < 30
    # emits levels <= 30): a longer engine horizon would find nodes at
    # distance 31+ that the oracle omits
    return bfs_levels(edges, source=0, max_iter=30)


@_register(
    "correlation_exact_moments",
    """
    WITH m AS (
        SELECT l_returnflag,
               CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(round(l_quantity) AS HUGEINT)) AS sx,
               sum(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
               sum(CAST(round(l_quantity) AS HUGEINT)
                   * CAST(round(l_quantity) AS HUGEINT)) AS sxx,
               sum(CAST(round(l_extendedprice * 100) AS HUGEINT)
                   * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy,
               sum(CAST(round(l_quantity) AS HUGEINT)
                   * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy
        FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r
    FROM m
    """,
)
def correlation_exact_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer moment sums — the
    deterministic twin of F.corr (whose float accumulation is
    partition-order-dependent): per group, n/Σx/Σy/Σx²/Σy²/Σxy are
    summed in decimal(38,0) (Spark) / HUGEINT (DuckDB) — exact, order
    free — and only the final ratio runs in IEEE doubles (identical
    integers → identical doubles → identical r). One partial-aggregated
    pass; the moment shuffle is one row per group."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    x = F.round(F.col("l_quantity")).cast(dec)
    y = F.round(F.col("l_extendedprice") * 100).cast(dec)
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    dx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    dy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(num / (F.sqrt(dx) * F.sqrt(dy)), 6).alias("r"),
    )


@_register(
    "ks_two_sample_values",
    """
    WITH d AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type IN ('click', 'view')
    ), per AS (
        SELECT v,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM d GROUP BY v
    ), cum AS (
        SELECT v, sum(c1) OVER (ORDER BY v) AS cum1,
               sum(c2) OVER (ORDER BY v) AS cum2
        FROM per
    ), tot AS (
        SELECT CAST(sum(c1) AS HUGEINT) AS n1,
               CAST(sum(c2) AS HUGEINT) AS n2
        FROM per
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(max(abs(cum1::HUGEINT * n2 - cum2::HUGEINT * n1))
                AS BIGINT) AS ks_num,
           round(CAST(max(abs(cum1::HUGEINT * n2 - cum2::HUGEINT * n1))
                      AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6) AS ks
    FROM cum, tot GROUP BY n1, n2
    """,
)
def ks_two_sample_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic, EXACT (distribution-drift
    test between event populations): KS = max_v |F1(v) − F2(v)| computed
    as max |cum1·n2 − cum2·n1| over the distinct-value domain — pure
    integers until the final divide, so both engines land on the same
    supremum and the same 6dp statistic. The cumulative counts run
    through operators/windows.py::scalable_prefix_sum (range-bucketed,
    no single-reducer sort — the distinct-value table is data-sized at
    100 TB); totals travel as a broadcast 1-row aggregate (the
    documented stats-sized cross join). Products promote to
    decimal(38,0)/HUGEINT so counts × counts cannot wrap."""
    from .operators.windows import scalable_prefix_sum

    dec = "decimal(38,0)"
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("click", "view")
    )
    per_v = ev.select(
        _units(F.col("value"), 2).alias("v"), "event_type"
    ).groupBy("v").agg(
        F.sum(
            F.when(F.col("event_type") == "click", 1).otherwise(0)
        ).cast("bigint").alias("c1"),
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).cast("bigint").alias("c2"),
    )
    from .planmode import checkpoint

    # per_v feeds the prefix sum (quantile + main plan) AND the totals
    # aggregate: materialize once (optimization round 8)
    per_v = checkpoint(per_v)
    cum = scalable_prefix_sum(
        per_v, ["v"], ["c1", "c2"], ["cum1", "cum2"], materialize=False
    )
    tot = per_v.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    num = F.abs(
        F.col("cum1").cast(dec) * F.col("n2").cast(dec)
        - F.col("cum2").cast(dec) * F.col("n1").cast(dec)
    )
    # denominator promoted to decimal BEFORE the product (bigint n1*n2
    # silently wraps past ~3e9 rows per side); ks_num's bigint cast
    # NULLs (visibly, not silently) at the same threshold, where the
    # DuckDB twin errors — both loud, documented behaviors
    return j.groupBy("n1", "n2").agg(
        F.max(num).cast("bigint").alias("ks_num"),
        F.round(
            F.max(num).cast("double")
            / (F.col("n1").cast(dec) * F.col("n2").cast(dec)).cast("double"),
            6,
        ).alias("ks"),
    )


@_register(
    "wilson_ci_conversion",
    """
    WITH g AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(converted) AS BIGINT) AS k
        FROM g
    )
    SELECT n, k,
           round((CAST(k AS DOUBLE) / n + 1.9208 / n
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                        * (1.0 - CAST(k AS DOUBLE) / n) / n
                        + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_lo,
           round((CAST(k AS DOUBLE) / n + 1.9208 / n
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                        * (1.0 - CAST(k AS DOUBLE) / n) / n
                        + 0.9604 / (CAST(n AS DOUBLE) * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_hi
    FROM m
    """,
)
def wilson_ci_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for the user-level conversion rate
    (the right interval for proportions — never escapes [0,1], behaves
    at k=0/k=n, unlike the normal approximation): counts are exact
    integers aggregated engine-side, and the interval is a fixed IEEE
    formula over those two integers — identical operand order in both
    engines, so the 6dp bounds match exactly. Two partial-aggregatable
    passes (per-user flag, then global count)."""
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    m = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("k"),
    )
    n_d = F.col("n").cast("double")
    p = F.col("k").cast("double") / F.col("n")
    # literals written out (1.9208 = z²/2, 0.9604 = z²/4) so both engines
    # parse the SAME doubles — computing z2/2 driver-side could differ
    # from the SQL literal by an ulp
    center = p + F.lit(1.9208) / F.col("n")
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n")
        + F.lit(0.9604) / (n_d * F.col("n"))
    )
    denom = F.lit(1.0) + F.lit(3.8416) / F.col("n")
    return m.select(
        "n",
        "k",
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@_register(
    "dq_constraint_audit_orders",
    """
    WITH m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_pos,
               CAST(sum(CASE WHEN NOT coalesce(
                            o_orderstatus IN ('O','F','P'), FALSE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_status,
               CAST(sum(CASE WHEN NOT coalesce(
                            o_orderdate >= TIMESTAMP '1990-01-01 00:00:00',
                            FALSE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
               CAST(sum(CASE WHEN NOT coalesce(o_custkey % 3 <> 1, FALSE)
                             THEN 1 ELSE 0 END) AS BIGINT) AS v_fail
        FROM orders
    )
    SELECT 'price_positive' AS rule, n AS n_rows, v_pos AS n_violations,
           (n - v_pos) * 1000000 // n AS pass_rate_ppm FROM m
    UNION ALL
    SELECT 'status_domain', n, v_status, (n - v_status) * 1000000 // n
    FROM m
    UNION ALL
    SELECT 'date_sane', n, v_date, (n - v_date) * 1000000 // n FROM m
    UNION ALL
    SELECT 'custkey_mod', n, v_fail, (n - v_fail) * 1000000 // n FROM m
    """,
)
def dq_constraint_audit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectation suite (ext/profiling.py::
    check_constraints): four row-local rules — three that hold, one
    planted to fail on ~1/3 of rows — audited in ONE partial-aggregated
    pass (each rule is a conditional count inside the same agg; no
    per-rule scan). NULL rule results count as violations; pass rates
    as exact integer ppm."""
    from .ext.profiling import check_constraints

    orders = load_table(spark, sf_dir, "orders")
    return check_constraints(
        orders,
        [
            ("price_positive", F.col("o_totalprice") > 0),
            ("status_domain", F.col("o_orderstatus").isin("O", "F", "P")),
            (
                "date_sane",
                F.col("o_orderdate")
                >= F.lit("1990-01-01 00:00:00").cast("timestamp_ntz"),
            ),
            ("custkey_mod", F.col("o_custkey") % 3 != 1),
        ],
    )


@_register(
    "stream_matview_orders",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_total
    FROM orders WHERE o_orderkey % 6 <> 0 GROUP BY 1
    """,
)
def stream_matview_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING materialized view, end-to-end with a full oracle: order
    changes land as json micro-batches (inserts of every even key, then
    deletes of every 6th + inserts of the odd keys), a real Structured
    Streaming query folds each micro-batch into a snapshot-persisted
    per-priority (count, cents) view via the counting algorithm
    (ext/matview.py inside foreachBatch), and the returned view must
    hash-match a from-scratch SQL recompute of the final state — the
    counting algorithm is batching-insensitive, so the match holds
    however the file source groups the landing files into batches.
    Writes only under a fresh temp dir (registry is read-only on
    sf_dir)."""
    import glob
    import os
    import tempfile

    from .ext.matview import idempotent_view_commit
    from .snapshots import snapshot_read

    tmp = tempfile.mkdtemp(prefix="smv_q_")
    landing, view_tbl, ckpt = f"{tmp}/in", f"{tmp}/view", f"{tmp}/ckpt"
    os.makedirs(landing)
    orders = load_table(spark, sf_dir, "orders")
    cents = _units(F.col("o_totalprice"), 2)

    def batch_df(pred, op):
        return orders.where(pred).select(
            F.col("o_orderpriority").alias("k"),
            cents.alias("c_"),
            F.lit(op).alias("op"),
        )

    b1 = batch_df(F.col("o_orderkey") % 2 == 0, "I")
    b2 = batch_df(F.col("o_orderkey") % 6 == 0, "D").unionByName(
        batch_df(F.col("o_orderkey") % 2 == 1, "I")
    )
    for i, b in enumerate([b1, b2]):
        d = f"{tmp}/stage{i}"
        b.write.json(d)
        for j, part in enumerate(sorted(glob.glob(f"{d}/part-*.json"))):
            os.rename(part, f"{landing}/b{i}_{j:04d}.json")

    def commit(batch: DataFrame, batch_id: int) -> None:
        # exactly-once per batch_id: a foreachBatch retry replays the
        # batch, and idempotent_view_commit skips ids already recorded in
        # the view snapshot's manifest meta
        idempotent_view_commit(
            spark, view_tbl, batch, batch_id, ["k"],
            measures={"cents": F.col("c_")},
        )

    q = (
        spark.readStream.schema("k STRING, c_ LONG, op STRING")
        .json(landing)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_matview_orders: stream did not finish within 300s — "
            "refusing to return a partial view"
        )
    return snapshot_read(spark, view_tbl).select(
        F.col("k").alias("o_orderpriority"),
        "n_rows",
        (F.col("cents") / F.lit(100.0)).alias("sum_total"),
    )


@_register(
    "chunk_dedup_docs",
    """
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)
    ),
    cid AS (
        SELECT doc_id, pos, tok,
               COALESCE(sum(CASE WHEN substr(md5(tok || ':cdc'), 1, 1)
                                 IN ('0', '1', '2') THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS chunk_id
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, chunk_id, count(*) AS n_toks,
               string_agg(tok, ' ' ORDER BY pos) AS chunk
        FROM cid GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS dfc
        FROM chunks GROUP BY 1
    ),
    kept AS (
        SELECT c.* FROM chunks c
        WHERE md5(c.chunk) NOT IN (SELECT h FROM dfreq WHERE dfc > 1)
    ),
    reb AS (
        SELECT doc_id, count(*) AS n_kept,
               CAST(sum(n_toks) AS BIGINT) AS kept_toks,
               md5(string_agg(chunk, ' ' ORDER BY chunk_id)) AS clean_fp
        FROM kept GROUP BY 1
    ),
    tot AS (
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(n_toks) AS BIGINT) AS n_toks
        FROM chunks GROUP BY 1
    )
    SELECT t.doc_id, t.n_chunks, t.n_toks,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(r.kept_toks, 0) AS kept_toks,
           COALESCE(r.clean_fp, md5('')) AS clean_fp
    FROM tot t LEFT JOIN reb r USING (doc_id)
    """,
)
def chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style passage dedup over content-defined chunks
    (ext/dedup_text.py::cdc_chunk_dedup): hash-chosen chunk boundaries,
    chunks seen in ≥2 distinct docs removed everywhere, per-doc rebuild
    fingerprinted. The whole pipeline — boundary hash, chunk assembly,
    document frequency, removal, re-assembly — is reproduced in the
    oracle, so the hash match certifies every stage."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    return cdc_chunk_dedup(docs)


def _clf_w_sql(cls: int) -> str:
    return (
        f"(CAST('0x' || substr(md5('w:' || slot || ':{cls}'), 1, 8) "
        "AS BIGINT) % 2001 - 1000)"
    )


@_register(
    "classifier_filter_docs",
    f"""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    slotted AS (
        SELECT doc_id, source,
               CAST('0x' || substr(md5(tok || ':fh'), 1, 8) AS BIGINT)
                   % {_FH_DIM} AS slot
        FROM toks
    ),
    cnt AS (
        SELECT doc_id, source, slot, count(*) AS c
        FROM slotted GROUP BY 1, 2, 3
    ),
    sc AS (
        SELECT doc_id, source,
               CAST(sum(c * {_clf_w_sql(0)}) AS BIGINT) AS s0,
               CAST(sum(c * {_clf_w_sql(1)}) AS BIGINT) AS s1,
               CAST(sum(c * {_clf_w_sql(2)}) AS BIGINT) AS s2
        FROM cnt GROUP BY 1, 2
    )
    SELECT doc_id, source,
           CASE WHEN s0 >= s1 AND s0 >= s2 THEN 0
                WHEN s1 >= s2 THEN 1 ELSE 2 END AS pred_class,
           greatest(s0, s1, s2) AS best_score,
           greatest(s0, s1, s2)
               - (s0 + s1 + s2 - greatest(s0, s1, s2)
                  - least(s0, s1, s2)) AS margin,
           CASE WHEN greatest(s0, s1, s2) > 0 THEN 1 ELSE 0 END AS keep
    FROM sc
    """,
)
def classifier_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear classifier inference as relational algebra —
    the quality-classifier filtering stage of LLaMA/CCNet-style corpus
    pipelines. Tokens hash into {_FH_DIM} feature slots (the hashing
    trick — no vocabulary broadcast), per-(doc, slot) counts aggregate
    first so the weight expression evaluates once per occupied slot (at
    most {_FH_DIM} per doc) instead of once per token, then three class
    scores = Σ count·weight(slot, class) reduce per document. Argmax
    with lowest-class tie-break, margin = best − runner-up, and the
    keep flag (score > 0) is the filter decision. Weights are
    md5-derived integers (functions/text.py::hashed_weight) so scores
    are exact in any engine and summation order; a trained model swaps
    the weight expression for a broadcast lookup — every join, explode
    and aggregation in the plan stays the same. 100 TB: two uniform
    hash-keyed aggregations, zero Python, zero skew (slots are uniform
    by construction)."""
    from .functions.text import feature_hash_slot, hashed_weight

    docs = spread(load_table(spark, sf_dir, "documents"))
    slotted = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "source",
        feature_hash_slot(F.col("tok"), _FH_DIM).alias("slot"),
    )
    cnt = slotted.groupBy("doc_id", "source", "slot").agg(
        F.count(F.lit(1)).alias("c")
    )
    sc = cnt.groupBy("doc_id", "source").agg(
        *[
            F.sum(F.col("c") * hashed_weight(F.col("slot"), k))
            .cast("bigint")
            .alias(f"s{k}")
            for k in range(3)
        ]
    )
    s0, s1, s2 = F.col("s0"), F.col("s1"), F.col("s2")
    best = F.greatest(s0, s1, s2)
    second = s0 + s1 + s2 - best - F.least(s0, s1, s2)
    return sc.select(
        "doc_id",
        "source",
        F.when((s0 >= s1) & (s0 >= s2), 0)
        .when(s1 >= s2, 1)
        .otherwise(2)
        .cast("int")
        .alias("pred_class"),
        best.alias("best_score"),
        (best - second).alias("margin"),
        F.when(best > 0, 1).otherwise(0).cast("int").alias("keep"),
    )


def _perc_round_sql(r: int, lab_tbl: str = "lab") -> str:
    """One unrolled batch-perceptron round (margin → misclassified set
    → weight delta → new weights) for the perceptron oracle.
    ``lab_tbl`` names the label CTE driving the updates — the held-out
    eval twin trains on a label SUBSET while scoring everything."""
    p = r - 1
    return f"""m{r} AS (
        SELECT f.doc_id, CAST(sum(f.c * w{p}.w) AS BIGINT) AS m
        FROM feats f JOIN w{p} USING (slot) GROUP BY 1
    ), mis{r} AS (
        SELECT l.doc_id, l.y
        FROM {lab_tbl} l LEFT JOIN m{r} USING (doc_id)
        WHERE l.y * coalesce(m{r}.m, 0) <= 0
    ), d{r} AS (
        SELECT f.slot, CAST(sum(mis{r}.y * f.c) AS BIGINT) AS dw
        FROM feats f JOIN mis{r} USING (doc_id) GROUP BY 1
    ), w{r} AS (
        SELECT coalesce(w{p}.slot, d{r}.slot) AS slot,
               CAST(coalesce(w{p}.w, 0) + coalesce(d{r}.dw, 0) AS BIGINT)
                   AS w
        FROM w{p} FULL JOIN d{r} ON w{p}.slot = d{r}.slot
    )"""


@_register(
    "perceptron_train_filter",
    f"""
    WITH {_CARD_CTES},
    lab AS (
        SELECT doc_id, source,
               CASE WHEN keep = 1 THEN 1 ELSE -1 END AS y
        FROM g
    ),
    ptoks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(tok || ':fh'), 1, 8) AS BIGINT)
                   % {_FH_DIM} AS slot,
               CAST(count(*) AS BIGINT) AS c
        FROM ptoks GROUP BY 1, 2
    ),
    w1 AS (
        SELECT f.slot, CAST(sum(l.y * f.c) AS BIGINT) AS w
        FROM feats f JOIN lab l USING (doc_id) GROUP BY 1
    ), {_perc_round_sql(2)}, {_perc_round_sql(3)},
    mf AS (
        SELECT f.doc_id, CAST(sum(f.c * w3.w) AS BIGINT) AS m
        FROM feats f JOIN w3 USING (slot) GROUP BY 1
    )
    SELECT l.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN coalesce(mf.m, 0) > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pred_keep,
           CAST(sum(CASE WHEN l.y = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_label_keep,
           CAST(sum(CASE WHEN (coalesce(mf.m, 0) > 0) = (l.y = 1)
                    THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
               AS agreement_ppm
    FROM lab l LEFT JOIN mf USING (doc_id)
    GROUP BY 1
    """,
)
def perceptron_train_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed quality-classifier TRAINING — the missing half of
    classifier_filter_docs (which is inference-only): a 3-round BATCH
    perceptron over hashed token features learns to mimic the certified
    Gopher rule label (the fastText-distillation shape real pipelines
    use: expensive rule/LLM labels on a seed set, a cheap linear model
    for the full corpus). Everything is exact integers — features are
    token counts in {_FH_DIM} hashing-trick slots, the label is ±1, a
    round updates w += Σ_misclassified y·x (order-independent, unlike
    sequential perceptron — so the model is a pure function of the
    corpus and the oracle replays training digit-for-digit as three
    unrolled relational rounds). Output: per-source prediction/label
    agreement — the curator's check that the cheap filter is safe to
    deploy.

    100 TB: the feature frame is one corpus explode + (doc, slot) agg,
    materialized ONCE (reliable checkpoint — lineage kept, spills to
    disk); each round is two broadcast joins against the 64-row weight
    vector plus one partial-aggregatable delta; nothing driver-sized
    ever collects."""
    from .functions.text import feature_hash_slot
    from .planmode import checkpoint, loop_rounds

    docs = spread(load_table(spark, sf_dir, "documents"))
    lab = _gopher_measures(docs).select(
        "doc_id",
        "source",
        F.when(_gopher_keep(), 1).otherwise(-1).cast("int").alias("y"),
    )
    feats = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .select(
            "doc_id", feature_hash_slot(F.col("tok"), _FH_DIM).alias("slot")
        )
        .groupBy("doc_id", "slot")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    # feats feeds every round + the final scoring; lab feeds each
    # round's misclassified set + the final rollup
    feats = checkpoint(feats, reliable=True)
    lab = checkpoint(lab, reliable=True)
    # initial weights: 64-row frame consumed by round 1's broadcast AND
    # round 1's full-outer update — checkpoint so the init pass runs
    # once (optimization round 9, §2.4; same rule as the per-round one)
    w = checkpoint(
        feats.join(lab.select("doc_id", "y"), "doc_id")
        .groupBy("slot")
        .agg(F.sum(F.col("y") * F.col("c")).cast("bigint").alias("w"))
    )
    for _ in range(loop_rounds(2)):
        m = (
            feats.join(F.broadcast(w), "slot")
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * F.col("w")).cast("bigint").alias("m"))
        )
        mis = (
            lab.select("doc_id", "y")
            .join(m, "doc_id", "left")
            .where(F.col("y") * F.coalesce(F.col("m"), F.lit(0)) <= 0)
        )
        delta = (
            feats.join(mis, "doc_id")
            .groupBy("slot")
            .agg(F.sum(F.col("y") * F.col("c")).cast("bigint").alias("dw"))
        )
        w = (
            w.join(delta, "slot", "full")
            .select(
                "slot",
                (
                    F.coalesce(F.col("w"), F.lit(0))
                    + F.coalesce(F.col("dw"), F.lit(0))
                )
                .cast("bigint")
                .alias("w"),
            )
        )
        # materialize the round's weight vector (≤ _FH_DIM rows): the
        # lazy chain re-executed every EARLIER round's m/mis/delta
        # subtree each time a later round broadcast w — the same
        # exponential re-execution pagerank_exact_int had before round
        # 8. One tiny checkpoint per round caps each round at one
        # execution (optimization round 9, guide §2.4).
        w = checkpoint(w)
    mf = (
        feats.join(F.broadcast(w), "slot")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w")).cast("bigint").alias("m"))
    )
    pred = (
        lab.join(mf, "doc_id", "left")
        .withColumn("mm", F.coalesce("m", F.lit(0)))
    )
    return pred.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("mm") > 0).cast("int"))
        .cast("bigint")
        .alias("n_pred_keep"),
        F.sum((F.col("y") == 1).cast("int"))
        .cast("bigint")
        .alias("n_label_keep"),
        floor_div(
            F.sum(((F.col("mm") > 0) == (F.col("y") == 1)).cast("int"))
            * F.lit(1000000),
            F.count(F.lit(1)),
        ).alias("agreement_ppm"),
    )


# Shared DuckDB fragment for the BM25 retrieval family: a deterministic
# content-term query, postings-derived tf/df/dl/totals, and the
# rescaled exact-integer scorer (avgdl pre-rounded to milli-tokens,
# milli idf) — mirrors ext/search.py::_bm25_combine digit for digit.
# ``qterms_body`` picks the query terms from the ``tc`` token counts;
# ``docs_where`` narrows the corpus (the delete/compaction twins score
# against the SURVIVING documents only).
def _bm25_sql_ctes(qterms_body: str, docs_where: str = "") -> str:
    return f"""tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents {docs_where}
    ),
    tc AS (
        SELECT tok, count(*) AS c FROM tok
        WHERE length(tok) >= 5 GROUP BY 1
    ),
    qterms AS (
        SELECT substr(md5(tok), 1, 16) AS th FROM ({qterms_body})
    ),
    dl AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM tok GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(dl) AS HUGEINT) AS S,
               CAST(count(*) AS HUGEINT) AS D,
               CAST(1000 * sum(dl) AS HUGEINT) // count(*) AS adm
        FROM dl
    ),
    tf AS (
        SELECT t.doc_id, q.th, CAST(count(*) AS BIGINT) AS tf
        FROM tok t JOIN qterms q ON substr(md5(t.tok), 1, 16) = q.th
        GROUP BY 1, 2
    ),
    dfq AS (SELECT th, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    sc AS (
        SELECT tf.doc_id,
               CAST(sum(
                   ((D - df + 1) * 1000 // (df + 1))
                   * CAST(tf AS HUGEINT) * 2200 * 1000000
                   // (CAST(tf AS HUGEINT) * 1000000
                       + 1200 * (250 + (750 * 1000 * CAST(dl AS HUGEINT))
                                       // adm))
               ) AS BIGINT) AS score_u
        FROM tf JOIN dfq USING (th) JOIN dl USING (doc_id), tot
        GROUP BY 1
    )"""


_BM25_TOP8_BODY = "SELECT tok FROM tc ORDER BY c DESC, tok ASC LIMIT 8"
# mixed query for the MaxScore serve: 4 heaviest terms (low idf, huge
# posting lists) + 4 rarest with df ≥ 2 (high idf — they set θ and
# demote the heavy terms to non-essential, so the prune has real work)
_BM25_MIXED_BODY = (
    "(SELECT tok FROM tc ORDER BY c DESC, tok ASC LIMIT 4) UNION "
    "(SELECT tok FROM tc WHERE c >= 2 ORDER BY c ASC, tok ASC LIMIT 4)"
)
_BM25_SQL_CTES = _bm25_sql_ctes(_BM25_TOP8_BODY)


@_register(
    "bm25_topk_docs",
    f"""
    WITH {_BM25_SQL_CTES}
    SELECT doc_id, score_u,
           CAST(row_number() OVER (ORDER BY score_u DESC, doc_id ASC)
                AS INT) AS rank
    FROM sc ORDER BY score_u DESC, doc_id ASC LIMIT 20
    """,
)
def bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval over the corpus (ext/search.py::
    bm25_scores) — the lexical half of a retrieval-curation stack,
    complementing the vector-ANN family: top-20 documents for the
    corpus' own 8 heaviest content terms (length ≥ 5, deterministic
    (count, token) tie-break — a stand-in for a user query that any
    engine reproduces). The idf is the exact rational surrogate
    (D−df+1)·10³ div (df+1) (monotone in df like Robertson's log idf)
    and the tf normalization is one cross-multiplied integer division,
    so scores — including ties — replay digit-for-digit in the oracle.
    100 TB: df/dl/S/D are partial-aggregatable counts, the query join
    is an 8-row broadcast, the top-20 is TakeOrdered (no global
    sort)."""
    from .ext.search import bm25_scores

    docs = spread(load_table(spark, sf_dir, "documents"))
    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 5)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qterms = (
        tokc.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(8)
        .select(F.substring(F.md5("tok"), 1, 16).alias("th"))
    )
    sc = bm25_scores(docs, qterms)
    top = sc.orderBy(F.col("score_u").desc(), F.col("doc_id").asc()).limit(
        20
    )
    w = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@_register("bm25_indexed_topk")
def bm25_indexed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED ranked-retrieval serving path (the Lucene shape:
    sharded postings + doclen "norms" sidecar + 1-row corpus stats —
    ext/search.py::save_search_index): the postings scan is
    partition-pruned to the query terms' shards (PartitionFilters
    asserted in tests/test_analytics.py), tf/df aggregate from those
    shards only, and the sidecars supply BM25's length normalization
    (which a pruned scan cannot reconstruct — the reason the norms file
    exists). Same model state and the SAME scoring combiner as
    bm25_topk_docs, so the same DuckDB twin certifies the persisted
    chain — the ivf_indexed_topk pattern applied to text retrieval."""
    import tempfile

    from .ext.search import bm25_topk_indexed, save_search_index
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents"))
    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 5)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qterms = (
        tokc.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(8)
        .select(F.substring(F.md5("tok"), 1, 16).alias("th"))
    )
    if is_plan_only():
        # the serving plan bakes index file paths into its scans; the
        # unindexed scorer is the representative plan shape
        return bm25_topk_docs(spark, sf_dir)
    key = sf_dir + ":bm25"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="bm25_q_") + "/idx"
        save_search_index(docs, idx)
        _IVF_INDEX_MEMO[key] = idx
    sc = bm25_topk_indexed(spark, idx, qterms)
    top = sc.orderBy(F.col("score_u").desc(), F.col("doc_id").asc()).limit(
        20
    )
    w = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# identical semantics + model state as bm25_topk_docs, so the same twin
# certifies the persisted retrieval chain
ORACLE_SQL["bm25_indexed_topk"] = ORACLE_SQL["bm25_topk_docs"]


@_register("bm25_incremental_topk")
def bm25_incremental_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance certified by hash: build the
    search index on the even-id half of the corpus, append the odd-id
    half with ext/search.py::append_to_search_index (O(batch), anti-join
    idempotent — the appended batch deliberately REPLAYS some even ids
    to prove the no-op), then serve. The result must equal a full
    rebuild over the whole corpus, so the SAME DuckDB twin as
    bm25_topk_docs certifies the append path — postings, doclen norms
    and corpus stats all stay exactly consistent."""
    import tempfile

    from .ext.search import (
        append_to_search_index,
        bm25_topk_indexed,
        save_search_index,
    )
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents"))
    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 5)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qterms = (
        tokc.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(8)
        .select(F.substring(F.md5("tok"), 1, 16).alias("th"))
    )
    if is_plan_only():
        return bm25_topk_docs(spark, sf_dir)
    key = sf_dir + ":bm25inc"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        idx = tempfile.mkdtemp(prefix="bm25inc_q_") + "/idx"
        save_search_index(docs.where(F.col("doc_id") % 2 == 0), idx)
        # the batch replays every even id < 100 alongside the odd half
        append_to_search_index(
            docs.where(
                (F.col("doc_id") % 2 == 1) | (F.col("doc_id") < 100)
            ),
            idx,
        )
        _IVF_INDEX_MEMO[key] = idx
    sc = bm25_topk_indexed(spark, idx, qterms)
    top = sc.orderBy(F.col("score_u").desc(), F.col("doc_id").asc()).limit(
        20
    )
    w = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# append path == full rebuild == the inline scorer, same twin
ORACLE_SQL["bm25_incremental_topk"] = ORACLE_SQL["bm25_topk_docs"]


@_register("stream_bm25_topk")
def stream_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING-maintained search index with a full oracle (the
    retrieval sibling of stream_kmv_users): document micro-batches land
    as json; a real Structured Streaming query folds each batch into
    the persisted index via ext/search.py::append_to_search_index —
    exactly-once comes from the INDEX itself: each batch is an
    immutable segment published by ONE atomic _committed create, so a
    crash mid-commit leaves an invisible partial the replay overwrites,
    a replayed committed batch maps to the same segment directory
    (batch_id key) and no-ops, and the doc-id anti-join dedups
    overlapping batches. The first batch bootstraps the index.
    The served ranking is a pure function of the inserted documents
    regardless of batching, so the SAME DuckDB twin as bm25_topk_docs
    certifies the whole streamed chain."""
    import glob
    import os
    import tempfile

    from .ext.search import append_to_search_index, bm25_topk_indexed
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents"))
    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 5)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qterms = (
        tokc.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(8)
        .select(F.substring(F.md5("tok"), 1, 16).alias("th"))
    )
    if is_plan_only():
        return bm25_topk_docs(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="sbm25_q_")
    landing, idx, ckpt = f"{tmp}/in", f"{tmp}/idx", f"{tmp}/ckpt"
    os.makedirs(landing)
    even = F.pmod(F.col("doc_id"), F.lit(2)) == 0
    src = docs.select("doc_id", "text")
    # landing-file count (optimization round 9, guide §6 small-files,
    # round-8 verdict item 1): a bare 32-way write landed 64 stream
    # files; the file-source stream then pays listing + per-file open
    # on every micro-batch plan. coalesce(4) narrows the staging write
    # (no shuffle) to 8 landing files total — micro-batch sizing is a
    # landing-zone layout choice, and the served ranking is a pure
    # function of the union of inserted docs regardless of batching.
    for i, b in enumerate([src.where(even), src.where(~even)]):
        d = f"{tmp}/stage{i}"
        b.coalesce(4).write.json(d)
        for j, part in enumerate(sorted(glob.glob(f"{d}/part-*.json"))):
            os.rename(part, f"{landing}/b{i}_{j:04d}.json")

    def commit(batch: DataFrame, batch_id: int) -> None:
        append_to_search_index(batch, idx, batch_key=f"sb{batch_id}")

    q = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .json(landing)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_bm25_topk: stream did not finish within 300s — "
            "refusing to serve a partial index"
        )
    sc = bm25_topk_indexed(spark, idx, qterms)
    top = sc.orderBy(F.col("score_u").desc(), F.col("doc_id").asc()).limit(
        20
    )
    w = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


# streamed appends == full rebuild == the inline scorer, same twin
ORACLE_SQL["stream_bm25_topk"] = ORACLE_SQL["bm25_topk_docs"]


def _bm25_query_terms(docs: DataFrame, mixed: bool = False) -> DataFrame:
    """The deterministic content-term query the BM25 family serves
    (mirrors _BM25_TOP8_BODY / _BM25_MIXED_BODY): top-8 heaviest tokens
    of length ≥ 5, or — for the MaxScore serve — 4 heaviest + 4 rarest
    with count ≥ 2 (the rare high-idf terms set θ and demote the heavy
    terms to non-essential, giving the prune real work)."""
    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 5)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    if mixed:
        picked = (
            tokc.orderBy(F.col("c").desc(), F.col("tok").asc())
            .limit(4)
            .select("tok")
            .unionByName(
                tokc.where(F.col("c") >= 2)
                .orderBy(F.col("c").asc(), F.col("tok").asc())
                .limit(4)
                .select("tok")
            )
            .distinct()
        )
    else:
        picked = tokc.orderBy(
            F.col("c").desc(), F.col("tok").asc()
        ).limit(8).select("tok")
    return picked.select(F.substring(F.md5("tok"), 1, 16).alias("th"))


def _bm25_rank_top20(sc: DataFrame) -> DataFrame:
    top = sc.orderBy(F.col("score_u").desc(), F.col("doc_id").asc()).limit(
        20
    )
    w = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


@_register(
    "bm25_pruned_topk",
    f"""
    WITH {_bm25_sql_ctes(_BM25_MIXED_BODY)}
    SELECT doc_id, score_u,
           CAST(row_number() OVER (ORDER BY score_u DESC, doc_id ASC)
                AS INT) AS rank
    FROM sc ORDER BY score_u DESC, doc_id ASC LIMIT 20
    """,
)
def bm25_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impact-ordered top-k PRUNED retrieval (round-6 verdict item 5 —
    MaxScore/WAND-lite, ext/search.py::_bm25_maxscore): the persisted
    index's per-term (max_tf, min_dl) caps — written at index time, run
    through the SAME contribution arithmetic — upper-bound every doc's
    per-term score; θ comes from exactly scoring the best term's docs,
    and docs matching only "non-essential" terms (summed caps < θ) are
    pruned BEFORE the scoring aggregation. Pure transparency: the top-20
    is bit-identical to the unpruned serve, so the plain BM25 twin
    certifies the pruned plan. The query is MIXED (4 heaviest + 4 rare
    df≥2 terms) — the shape where MaxScore actually pays: rare high-idf
    terms set θ, the heavy terms' huge posting lists get skipped."""
    from .ext.search import bm25_topk_indexed, save_search_index
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents"))
    qterms = _bm25_query_terms(docs, mixed=True)
    if is_plan_only():
        return bm25_topk_docs(spark, sf_dir)
    key = sf_dir + ":bm25"  # same index as bm25_indexed_topk
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        import tempfile

        idx = tempfile.mkdtemp(prefix="bm25_q_") + "/idx"
        save_search_index(docs, idx)
        _IVF_INDEX_MEMO[key] = idx
    return _bm25_rank_top20(
        bm25_topk_indexed(spark, idx, qterms, prune_k=20)
    )


@_register(
    "bm25_delete_serve",
    f"""
    WITH {_bm25_sql_ctes(_BM25_TOP8_BODY, "WHERE doc_id % 10 <> 3")}
    SELECT doc_id, score_u,
           CAST(row_number() OVER (ORDER BY score_u DESC, doc_id ASC)
                AS INT) AS rank
    FROM sc ORDER BY score_u DESC, doc_id ASC LIMIT 20
    """,
)
def bm25_delete_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOMBSTONE deletes certified by hash (round-6 missing item 1 —
    takedown / decontamination, the reason a curation stack keeps this
    index): build the full index, delete_from_search_index the
    doc_id % 10 == 3 slice (a delete segment: ids + their dl + own
    1-row stats, atomic commit), then serve. The ranking — scores, df,
    S/D totals, ties — must equal a FULL REBUILD WITHOUT the documents,
    which is exactly what the twin computes (documents WHERE
    doc_id % 10 <> 3). Query terms are re-derived from the surviving
    corpus, as a live deployment would."""
    from .ext.search import (
        bm25_topk_indexed,
        delete_from_search_index,
        save_search_index,
    )
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents"))
    survivors = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) != 3)
    qterms = _bm25_query_terms(survivors)
    if is_plan_only():
        return bm25_topk_docs(spark, sf_dir)
    key = sf_dir + ":bm25del"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        import tempfile

        idx = tempfile.mkdtemp(prefix="bm25del_q_") + "/idx"
        save_search_index(docs, idx)
        delete_from_search_index(
            docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 3).select(
                "doc_id"
            ),
            idx,
        )
        _IVF_INDEX_MEMO[key] = idx
    return _bm25_rank_top20(bm25_topk_indexed(spark, idx, qterms))


@_register("bm25_compacted_topk")
def bm25_compacted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENT COMPACTION certified by hash (round-6 missing item 1 —
    the Lucene merge policy): the index accumulates three appended
    segments plus a tombstone delete, compact_search_index merges them
    into ONE segment with the deletes applied physically (atomic: the
    merged segment's _committed simultaneously publishes its data and
    retires its sources), the retired dirs are vacuumed, and the serve
    must still equal a full rebuild without the deleted docs — the SAME
    twin as bm25_delete_serve. Also pins that compaction bounds the
    segment count: exactly one live segment remains."""
    from .ext.search import (
        append_to_search_index,
        bm25_topk_indexed,
        compact_search_index,
        delete_from_search_index,
        save_search_index,
        vacuum_search_index,
        _live_state,
    )
    from .planmode import is_plan_only

    docs = spread(load_table(spark, sf_dir, "documents"))
    survivors = docs.where(F.pmod(F.col("doc_id"), F.lit(10)) != 3)
    qterms = _bm25_query_terms(survivors)
    if is_plan_only():
        return bm25_topk_docs(spark, sf_dir)
    key = sf_dir + ":bm25cmp"
    idx = _IVF_INDEX_MEMO.get(key)
    if idx is None:
        import tempfile

        idx = tempfile.mkdtemp(prefix="bm25cmp_q_") + "/idx"
        third = F.pmod(F.col("doc_id"), F.lit(3))
        save_search_index(docs.where(third == 0), idx)
        append_to_search_index(docs.where(third == 1), idx)
        append_to_search_index(docs.where(third == 2), idx)
        delete_from_search_index(
            docs.where(F.pmod(F.col("doc_id"), F.lit(10)) == 3).select(
                "doc_id"
            ),
            idx,
        )
        assert compact_search_index(spark, idx) is True
        vacuum_search_index(spark, idx)
        live_b, live_d = _live_state(spark, idx)
        assert len(live_b) == 1 and not live_d
        _IVF_INDEX_MEMO[key] = idx
    return _bm25_rank_top20(bm25_topk_indexed(spark, idx, qterms))


# compaction + physical deletes == rebuild without the docs, same twin
ORACLE_SQL["bm25_compacted_topk"] = ORACLE_SQL["bm25_delete_serve"]


@_register(
    "hybrid_rrf_topk",
    f"""
    WITH {_BM25_SQL_CTES},
    lex AS (
        SELECT doc_id, CAST(row_number() OVER (
                   ORDER BY score_u DESC, doc_id ASC) AS BIGINT) AS rank_lex
        FROM sc ORDER BY score_u DESC, doc_id ASC LIMIT 50
    ),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT e.vec_id AS doc_id,
               {_cos_sql('e.embedding', 'q.v')} AS cosine
        FROM embeddings e, qv q
        WHERE e.vec_id <> 0
    ),
    vec AS (
        SELECT doc_id, CAST(row_number() OVER (
                   ORDER BY cosine DESC, doc_id ASC) AS BIGINT) AS rank_vec
        FROM cos ORDER BY cosine DESC, doc_id ASC LIMIT 50
    ),
    fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               l.rank_lex, v.rank_vec,
               CAST(coalesce(1000000000 // (60 + l.rank_lex), 0)
                    + coalesce(1000000000 // (60 + v.rank_vec), 0)
                    AS BIGINT) AS rrf_u
        FROM lex l FULL JOIN vec v ON l.doc_id = v.doc_id
    )
    SELECT doc_id, rank_lex, rank_vec, rrf_u,
           CAST(row_number() OVER (ORDER BY rrf_u DESC, doc_id ASC)
                AS INT) AS rank
    FROM fused ORDER BY rrf_u DESC, doc_id ASC LIMIT 20
    """,
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — reciprocal-rank fusion of the two certified
    rankers, the shape modern retrieval-curation stacks actually
    deploy: BM25 top-50 (lexical, bm25_topk_docs' exact-integer scorer,
    corpus top-8 content terms as the query) fused with embedding
    cosine top-50 against document 0's vector (ann_cosine_topk's
    rounded-cosine scorer) via RRF with the standard k=60:
    rrf = Σ floor(10⁹/(60+rank)) — integer micro-units, so fusion,
    ties and the final top-20 replay exactly. Documents ranked by only
    one side keep a NULL rank on the other (full-outer fusion, the real
    semantics — a doc without an embedding can still win on lexical).
    100 TB: both sides end in TakeOrdered top-50; fusion is a 50∪50-row
    join."""
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    docs = spread(load_table(spark, sf_dir, "documents"))
    from .ext.search import bm25_scores
    from .ext.similarity import brute_force_topk

    tokc = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.length("tok") >= 5)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    qterms = (
        tokc.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(8)
        .select(F.substring(F.md5("tok"), 1, 16).alias("th"))
    )
    wl = Window.orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
    lex = (
        bm25_scores(docs, qterms)
        .orderBy(F.col("score_u").desc(), F.col("doc_id").asc())
        .limit(50)
        .select(
            "doc_id",
            F.row_number().over(wl).cast("bigint").alias("rank_lex"),
        )
    )
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = brute_force_topk(emb, queries, k=50).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rank").cast("bigint").alias("rank_vec"),
    )
    rrf = F.coalesce(
        floor_div(F.lit(1000000000), F.lit(60) + F.col("rank_lex")),
        F.lit(0).cast("bigint"),
    ) + F.coalesce(
        floor_div(F.lit(1000000000), F.lit(60) + F.col("rank_vec")),
        F.lit(0).cast("bigint"),
    )
    fused = lex.join(vec, "doc_id", "full").select(
        "doc_id",
        "rank_lex",
        "rank_vec",
        rrf.cast("bigint").alias("rrf_u"),
    )
    wf = Window.orderBy(F.col("rrf_u").desc(), F.col("doc_id").asc())
    return (
        fused.orderBy(F.col("rrf_u").desc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(wf).cast("int"))
    )


@_register(
    "contrastive_negatives_docs",
    """
    WITH d AS (
        SELECT doc_id, md5(text) AS h,
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cn'),
                                   1, 4) AS BIGINT) % 32 AS bucket
        FROM documents
    ),
    pairs AS (
        SELECT a.doc_id AS anchor_id, c.doc_id AS neg_id,
               md5(CAST(a.doc_id AS VARCHAR) || ','
                   || CAST(c.doc_id AS VARCHAR)) AS pk
        FROM d a JOIN d c ON a.bucket = c.bucket
        WHERE a.doc_id <> c.doc_id AND a.h <> c.h
    )
    SELECT anchor_id, neg_id, CAST(rnk AS INT) AS rank FROM (
        SELECT anchor_id, neg_id,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY pk ASC, neg_id ASC) AS rnk
        FROM pairs
    ) WHERE rnk <= 4
    """,
)
def contrastive_negatives_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic in-bucket NEGATIVE mining for contrastive
    embedding training (the SimCLR/DPR data-prep step): each anchor
    document draws 4 negatives from its salted-hash bucket (the
    "in-batch negatives" shape — the bucket IS the training batch),
    EXCLUDING itself and exact duplicates (identical text hash — a
    duplicate labelled negative would teach the model to separate
    identical content). Selection order is md5(anchor,candidate), so
    the drawn negatives are a pure function of the corpus — replayed
    by the oracle and append-stable for epoch reproducibility.

    100 TB: the pair fan-out is bucket-local (B docs/bucket → B²/bucket
    — the bucket COUNT is the dial that holds B at training-batch size
    as the corpus grows, like every banded tier here); the per-anchor
    top-4 runs through the skew-safe two-phase top-k; text never
    shuffles (only 16-hex hashes and ids)."""
    from .operators.windows import scalable_topk_per_group

    docs = spread(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":cn"))),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("bigint")
            % 32
        ).alias("bucket"),
    )
    a = d.select(
        F.col("doc_id").alias("anchor_id"),
        F.col("h").alias("ah"),
        "bucket",
    )
    c = d.select(
        F.col("doc_id").alias("neg_id"), F.col("h").alias("ch"), "bucket"
    )
    pairs = (
        a.join(c, on="bucket")
        .where(
            (F.col("anchor_id") != F.col("neg_id"))
            & (F.col("ah") != F.col("ch"))
        )
        .select(
            "anchor_id",
            "neg_id",
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit(","),
                    F.col("neg_id").cast("string"),
                )
            ).alias("pk"),
        )
    )
    return scalable_topk_per_group(
        pairs,
        ["anchor_id"],
        [F.col("pk").asc(), F.col("neg_id").asc()],
        4,
        salt_by=["neg_id"],
        rank_col="rank",
    ).select("anchor_id", "neg_id", F.col("rank").cast("int"))


@_register("image_ahash_neardup")  # rows-only: binary payload ops
def image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup detection end-to-end: synthesize one
    image per document (pixels from the text's md5; EVEN ids PPM, ODD
    ids PNG so both real decoders run), with PLANTED near-dups — every
    doc_id ≡ 7 (mod 10) renders the PREVIOUS document's pixels with one
    pixel perturbed. Fingerprint with the exact-integer 64-bit aHash
    (ext/multimodal.py::ahash64) and pair via pigeonhole Hamming
    banding (ext/dedup_text.py::hamming_candidates) — the image twin of
    the SimHash text tier, sharing its banding core, its max_bucket cap
    and its width bound. Only 8-byte fingerprints shuffle; pixels never
    leave the decode stage. Rows-only (binary payloads have no SQL
    twin); aHash correctness and planted-pair recall are pinned in
    tests/test_multimodal.py."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from .ext.dedup_text import hamming_candidates
    from .ext.multimodal import MEDIA_SCHEMA, ahash_media

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    # doc 10k+7 renders doc 10k+6's pixels (one pixel perturbed);
    # every other doc renders its own — so docs ≡6 source two rows
    own = docs.where(F.col("doc_id") % 10 != 7).select(
        F.col("doc_id").alias("render_id"),
        F.col("text").alias("base_text"),
    )
    shifted = docs.where(F.col("doc_id") % 10 == 6).select(
        (F.col("doc_id") + 1).alias("render_id"),
        F.col("text").alias("base_text"),
    )
    paired = docs.join(
        own.unionByName(shifted),
        docs["doc_id"] == F.col("render_id"),
        "inner",
    ).select("doc_id", "base_text")

    def make_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .ext.multimodal import encode_png, encode_ppm

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["base_text"]):
                digest = hashlib.md5((text or "").encode()).digest()
                w, h = 16 + digest[0] % 9, 16 + digest[1] % 9
                px = np.frombuffer(
                    (digest * ((w * h * 3) // 16 + 1))[: w * h * 3],
                    dtype=np.uint8,
                ).reshape(h, w, 3).copy()
                if int(did) % 10 == 7:
                    px[0, 0] = (px[0, 0].astype(np.int64) ^ 0x55).astype(
                        np.uint8
                    )
                if int(did) % 2:
                    payload, mime = (
                        encode_png(px, filter_type=digest[2] % 5),
                        "image/png",
                    )
                else:
                    payload, mime = encode_ppm(px), "image/x-ppm"
                rows.append(
                    (int(did), "image", payload, mime, w, h, None)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "mime",
                    "width", "height", "duration_ms",
                ],
            )

    media = paired.mapInPandas(make_media, schema=MEDIA_SCHEMA)
    sigs = ahash_media(media).where(F.col("sig").isNotNull())
    pairs = hamming_candidates(
        sigs, id_col="media_id", sig_col="sig", bits=64, max_hamming=3
    )
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        (
            (F.col("id_b") == F.col("id_a") + 1)
            & (F.col("id_b") % 10 == 7)
        ).cast("int").alias("planted"),
    )


_BPE_ROUNDS = 4


def _bpe_round_cte(r: int) -> str:
    return f"""
    pairs{r} AS (
        SELECT l, r, CAST(sum(f) AS BIGINT) AS c FROM (
            SELECT f, list_extract(arr, i) AS l,
                   list_extract(arr, i + 1) AS r
            FROM (SELECT f, arr,
                         unnest(generate_series(1, len(arr) - 1)) AS i
                  FROM (SELECT f, string_split(s, ' ') AS arr
                        FROM syms{r - 1}))
        ) GROUP BY 1, 2
    ),
    best{r} AS (
        SELECT l, r, c FROM pairs{r} ORDER BY c DESC, l, r LIMIT 1
    ),
    syms{r} AS (
        SELECT w, f,
               list_reduce(string_split(s, ' '),
                   (acc, x) -> CASE
                       WHEN acc = b.l AND x = b.r THEN acc || x
                       WHEN ends_with(acc, ' ' || b.l) AND x = b.r
                           THEN substr(acc, 1,
                                       length(acc) - length(b.l) - 1)
                                || ' ' || b.l || b.r
                       ELSE acc || ' ' || x END) AS s
        FROM syms{r - 1}, best{r} b
    )"""


@_register(
    "bpe_merge_rounds",
    "WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w"
    "            FROM documents),\n"
    "    words AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w0"
    "              WHERE w <> '' GROUP BY 1),\n"
    "    syms0 AS (SELECT w, f,"
    "              trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>'"
    "              AS s FROM words),"
    + ",".join(_bpe_round_cte(r) for r in range(1, _BPE_ROUNDS + 1))
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT {r} AS round, l AS left_sym, r AS right_sym,"
        f" c AS pair_count FROM best{r}"
        for r in range(1, _BPE_ROUNDS + 1)
    ),
)
def bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, first {rounds} merge rules
    (ext/sequencing.py::bpe_train_merges): corpus touched once for the
    word-count table, then every round is vocabulary-bounded — pair
    counting, deterministic best-pair limit(1), greedy left-to-right
    merge fold — all in one lazy plan with 1-row broadcast joins
    between rounds. The oracle unrolls the identical rounds as CTEs
    (list_reduce is the same fold), so the hash match certifies the
    entire training loop, not just the counts."""
    from .ext.sequencing import bpe_train_merges

    docs = spread(load_table(spark, sf_dir, "documents"))
    return bpe_train_merges(docs, rounds=_BPE_ROUNDS)


@_register(
    "bpe_encode_stats",
    "WITH w0 AS (SELECT unnest(string_split(text, ' ')) AS w"
    "            FROM documents),\n"
    "    words AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w0"
    "              WHERE w <> '' GROUP BY 1),\n"
    "    syms0 AS (SELECT w, f,"
    "              trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' </w>'"
    "              AS s FROM words),"
    + ",".join(_bpe_round_cte(r) for r in range(1, _BPE_ROUNDS + 1))
    + f""",
    vocab AS (
        SELECT w, CAST(len(string_split(s, ' ')) AS BIGINT) AS n_syms
        FROM syms{_BPE_ROUNDS}
    ),
    dw AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
        FROM documents
    )
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*) AS ws_tokens,
           CAST(sum(v.n_syms) AS BIGINT) AS bpe_tokens,
           CAST(sum(length(dw.w)) AS BIGINT) AS total_chars,
           {_sql_halfup('sum(length(dw.w)) * 1000', 'sum(v.n_syms)')}
               AS chars_per_token_milli
    FROM dw JOIN vocab v USING (w)
    GROUP BY source
    """,
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING as a vocab join: the trained symbol table
    (ext/sequencing.py::bpe_vocab — vocabulary-sized, broadcast) joined
    against the corpus word stream gives every document's TRUE subword
    token count under the learned merges, rolled up per source with the
    exact chars-per-token compression ratio (integer milli-units). This
    is the 'how many REAL tokens is my corpus' query — the trained
    counterpart of token_count_stats' ceil(len/4) estimate. 100 TB: one
    corpus-sized explode, one broadcast join, one aggregation; the
    training chain upstream is vocabulary-bounded."""
    from .ext.sequencing import bpe_vocab
    from .operators.joins import broadcast_if_small

    docs = spread(load_table(spark, sf_dir, "documents"))
    # vocab-broadcast guard (round-5 verdict item 7); persist=True so
    # the size probe does not re-run the BPE training chain
    vocab = broadcast_if_small(
        bpe_vocab(docs, rounds=_BPE_ROUNDS).select("w", "n_syms"),
        persist=True,
    )
    dw = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    return (
        dw.join(vocab, "w")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("ws_tokens"),
            F.sum("n_syms").cast("bigint").alias("bpe_tokens"),
            F.sum(F.length("w")).cast("bigint").alias("total_chars"),
            _half_up_div(
                F.sum(F.length("w")).cast("bigint") * F.lit(1000),
                F.sum("n_syms").cast("bigint"),
            ).alias("chars_per_token_milli"),
        )
    )


@_register(
    "pmi_topk_bigrams",
    f"""
    WITH arr AS (SELECT string_split(text, ' ') AS a FROM documents),
    uni AS (SELECT unnest(a) AS w FROM arr),
    ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
    big AS (SELECT list_extract(a, i) AS x, list_extract(a, i + 1) AS y
            FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
                  FROM arr)),
    bcnt AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
             FROM big GROUP BY 1, 2),
    btot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM big)
    SELECT x, y, bcnt.c AS pair_count,
           CAST({_sql_halfup(
               'CAST(bcnt.c AS HUGEINT) * n * n * 1000',
               'CAST(m AS HUGEINT) * ux.c * uy.c',
           )} AS BIGINT) AS pmi_ratio_milli
    FROM bcnt
    JOIN ucnt ux ON bcnt.x = ux.w
    JOIN ucnt uy ON bcnt.y = uy.w, tot, btot
    WHERE bcnt.c >= 5
    ORDER BY pmi_ratio_milli DESC, x, y LIMIT 50
    """,
)
def pmi_topk_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent bigrams by pointwise mutual
    information — the phrase-detection pass (word2vec-style phrase
    joining, stopword-pair diagnosis) over a training corpus. The PMI
    exponential p(xy)/(p(x)·p(y)) = c_xy·N²/(M·c_x·c_y) is ranked as an
    exact integer milli-ratio (decimal38/HUGEINT cross-multiplication,
    half-up) so the ordering — including ties — is engine-independent;
    no log, no float. 100 TB: unigram and bigram counts are two
    partial-aggregatable groupBys; the count tables are vocab- and
    vocab²-bounded, both joins broadcast; N and M ride along as 1-row
    broadcasts; min-count 5 prunes the tail before the join."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    arr = F.split("text", " ")
    toks = docs.select(F.explode(arr).alias("w"))
    ucnt = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = F.col("a")
    big = docs.select(arr.alias("a")).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(a) - 1),
                lambda i: F.struct(
                    F.element_at(a, i).alias("x"),
                    F.element_at(a, i + 1).alias("y"),
                ),
            )
        ).alias("p")
    ).select("p.x", "p.y")
    bcnt = big.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    btot = big.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    # vocab-broadcast guard (round-5 verdict item 7): the unigram table
    # is vocab-bounded but not BOUNDED-bounded — probe once, hint only
    # if it fits; the hint survives the two aliasing projections, so a
    # web-scale token universe degrades to a shuffle join instead of
    # OOMing the driver
    from .operators.joins import broadcast_if_small

    ucnt_b = broadcast_if_small(ucnt)
    joined = (
        bcnt.where(F.col("c") >= 5)
        .join(
            ucnt_b.select(F.col("w").alias("x"), F.col("c").alias("cx")),
            "x",
        )
        .join(
            ucnt_b.select(F.col("w").alias("y"), F.col("c").alias("cy")),
            "y",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    dec = "decimal(38,0)"
    return (
        joined.select(
            "x",
            "y",
            F.col("c").alias("pair_count"),
            _half_up_div(
                F.col("c").cast(dec)
                * F.col("n")
                * F.col("n")
                * F.lit(1000),
                F.col("m").cast(dec) * F.col("cx") * F.col("cy"),
            ).alias("pmi_ratio_milli"),
        )
        .orderBy(F.col("pmi_ratio_milli").desc(), "x", "y")
        .limit(50)
    )


@_register(
    "pmi_skipgram_window",
    f"""
    WITH arr AS (SELECT string_split(text, ' ') AS a FROM documents),
    uni AS (SELECT unnest(a) AS w FROM arr),
    ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM uni),
    big AS (
        SELECT list_extract(a, i) AS x, list_extract(a, i + d) AS y
        FROM (
            SELECT a, i, unnest(generate_series(1, least(3, len(a) - i)))
                   AS d
            FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
                  FROM arr)
        )
    ),
    bcnt AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c
             FROM big GROUP BY 1, 2),
    btot AS (SELECT CAST(count(*) AS BIGINT) AS m FROM big)
    SELECT x, y, bcnt.c AS pair_count,
           CAST({_sql_halfup(
               'CAST(bcnt.c AS HUGEINT) * n * n * 1000',
               'CAST(m AS HUGEINT) * ux.c * uy.c',
           )} AS BIGINT) AS pmi_ratio_milli
    FROM bcnt
    JOIN ucnt ux ON bcnt.x = ux.w
    JOIN ucnt uy ON bcnt.y = uy.w, tot, btot
    WHERE bcnt.c >= 8
    ORDER BY pmi_ratio_milli DESC, x, y LIMIT 50
    """,
)
def pmi_skipgram_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram-window PMI (word2vec's co-occurrence definition):
    ordered pairs within a ±3 token window instead of adjacency only —
    the collocation signal that survives word reordering and
    intervening modifiers, which pmi_topk_bigrams misses. Same exact
    integer milli-ratio ranking (no log, no float), same 100 TB shape:
    the window fan-out is a bounded ×3 explode, counts stay vocab- and
    vocab²-bounded partial aggregates with broadcast joins."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    arr = F.split("text", " ")
    toks = docs.select(F.explode(arr).alias("w"))
    ucnt = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = F.col("a")
    pairs_expr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(a) - 1),
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(3), F.size(a) - i)),
                lambda d: F.struct(
                    F.element_at(a, i).alias("x"),
                    F.element_at(a, i + d).alias("y"),
                ),
            ),
        )
    )
    big = docs.select(arr.alias("a")).select(
        F.explode(pairs_expr).alias("p")
    ).select("p.x", "p.y")
    bcnt = big.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    btot = big.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    # vocab-broadcast guard (round-5 verdict item 7): hint only when
    # the probed unigram table actually fits; shuffle join otherwise
    from .operators.joins import broadcast_if_small

    ucnt_b = broadcast_if_small(ucnt)
    joined = (
        bcnt.where(F.col("c") >= 8)
        .join(
            ucnt_b.select(F.col("w").alias("x"), F.col("c").alias("cx")),
            "x",
        )
        .join(
            ucnt_b.select(F.col("w").alias("y"), F.col("c").alias("cy")),
            "y",
        )
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
    )
    dec = "decimal(38,0)"
    return (
        joined.select(
            "x",
            "y",
            F.col("c").alias("pair_count"),
            _half_up_div(
                F.col("c").cast(dec) * F.col("n") * F.col("n") * F.lit(1000),
                F.col("m").cast(dec) * F.col("cx") * F.col("cy"),
            ).alias("pmi_ratio_milli"),
        )
        .orderBy(F.col("pmi_ratio_milli").desc(), "x", "y")
        .limit(50)
    )


@_register(
    "jl_project_embeddings",
    """
    WITH u AS (
        SELECT vec_id, pos - 1 AS i,
               CAST(round(CAST(comp AS DOUBLE) * 1000000) AS BIGINT) AS v
        FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                     unnest(embedding) AS comp
              FROM embeddings)
    ),
    pj AS (SELECT vec_id, i, v,
                  unnest(generate_series(0, 15)) AS j FROM u)
    SELECT vec_id, CAST(j AS INT) AS j,
           CAST(sum(CASE WHEN substr(md5('jl:' || i || ':' || j), 1, 1)
                              < '8'
                     THEN v ELSE -v END) AS BIGINT) AS proj_mu
    FROM pj GROUP BY 1, 2
    """,
)
def jl_project_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss ±1 projection of the embeddings table to
    16 dimensions (ext/similarity.py::jl_project): md5-derived sign
    matrix, exact micro-unit integer sums, long-format output — the
    whole projection is reproduced in the oracle, so the hash match
    certifies matrix derivation and arithmetic bit-for-bit."""
    from .ext.similarity import jl_project

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return jl_project(emb, out_dim=16).select(
        "vec_id", F.col("j").cast("int").alias("j"), "proj_mu"
    )


_PCA_ROUNDS = 3


def _pca_iter_cte(r: int) -> str:
    return f"""
    w{r} AS (
        SELECT cov.i AS dim, sum(c * val) AS w
        FROM cov JOIN v{r - 1} ON cov.j = v{r - 1}.dim GROUP BY 1
    ),
    m{r} AS (SELECT max(abs(w)) AS m FROM w{r}),
    v{r} AS (
        SELECT dim,
               CAST({_sql_halfup('w * 1000000', 'm')} AS HUGEINT) AS val
        FROM w{r}, m{r}
    )"""


@_register(
    "pca_power_iteration",
    f"""
    WITH u AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS v
      FROM embeddings
    ),
    g AS (
      SELECT a.dim AS di, b.dim AS dj, count(*) AS n,
             sum(CAST(a.v AS HUGEINT)) AS si,
             sum(CAST(b.v AS HUGEINT)) AS sj,
             sum(CAST(a.v AS HUGEINT) * b.v) AS sij
      FROM u a JOIN u b ON a.vec_id = b.vec_id
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT di - 1 AS i, dj - 1 AS j,
             CAST({_sql_halfup(
                 'CAST(n AS HUGEINT) * sij - si * sj',
                 'CAST(n AS HUGEINT) * n',
             )} AS HUGEINT) AS c
      FROM g
    ),
    v0 AS (
      SELECT i AS dim, CAST(1000000 AS HUGEINT) AS val
      FROM (SELECT DISTINCT i FROM cov)
    ),{','.join(_pca_iter_cte(r) for r in range(1, _PCA_ROUNDS + 1))}
    SELECT CAST(dim AS INT) AS dim, CAST(val AS BIGINT) AS v_scaled
    FROM v{_PCA_ROUNDS}
    """,
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding covariance by exact
    fixed-point power iteration (ext/similarity.py::pca_top_direction,
    3 rounds): moments, matvec steps and the max-|w| re-scales are all
    integer/decimal38 arithmetic, so the oracle's unrolled CTEs land on
    the identical 64 numbers — a certified deterministic twin for a
    classically float-only computation (the float PCA a user would run
    converges to the same direction; this one is reproducible)."""
    from .ext.similarity import pca_top_direction

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return pca_top_direction(emb, rounds=_PCA_ROUNDS)


@_register(
    "token_diversity_by_source",
    f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    c AS (SELECT source, w, CAST(count(*) AS BIGINT) AS n
          FROM toks GROUP BY 1, 2),
    s AS (SELECT source,
                 CAST(count(*) AS BIGINT) AS vocab,
                 CAST(sum(n) AS BIGINT) AS total,
                 CAST(sum(n * n) AS BIGINT) AS sum_sq
          FROM c GROUP BY 1)
    SELECT source, vocab, total,
           CAST({_sql_halfup('(total * total - sum_sq) * 1000000',
                             'total * total')} AS BIGINT)
               AS simpson_ppm,
           CAST({_sql_halfup('vocab * 1000000', 'total')} AS BIGINT)
               AS type_token_ppm
    FROM s
    """,
)
def token_diversity_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per source without a single float: the
    Gini–Simpson index 1 − Σp² becomes the exact integer ppm
    (N² − Σc²)·10⁶ / N², and type-token ratio is vocab·10⁶ / N — the
    log-free diversity panel for corpus datasheets (entropy needs a
    log; Simpson answers the same 'is this source repetitive?' question
    in closed integer form). One token explode, one vocab-bounded
    count, one per-source fold — all partial-aggregatable."""
    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("w"))
    c = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    s = c.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("n").cast("bigint").alias("total"),
        F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sum_sq"),
    )
    total, sum_sq, vocab = F.col("total"), F.col("sum_sq"), F.col("vocab")
    return s.select(
        "source",
        "vocab",
        "total",
        _half_up_div(
            (total * total - sum_sq).cast("decimal(38,0)") * F.lit(1000000),
            (total * total).cast("decimal(38,0)"),
        ).alias("simpson_ppm"),
        _half_up_div(vocab * F.lit(1000000).cast("bigint"), total).alias(
            "type_token_ppm"
        ),
    )


@_register(
    "count_min_sketch_tokens",
    """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT w, CAST(count(*) AS BIGINT) AS n
            FROM toks GROUP BY 1),
    fan AS (SELECT w, n, r,
                   CAST('0x' || substr(md5(w || ':cms' || r), 1, 8)
                        AS BIGINT) % 256 AS slot
            FROM (SELECT w, n, unnest(generate_series(0, 3)) AS r
                  FROM cnt)),
    sketch AS (SELECT r, slot, CAST(sum(n) AS BIGINT) AS c
               FROM fan GROUP BY 1, 2),
    top AS (SELECT w, n FROM cnt ORDER BY n DESC, w LIMIT 20)
    SELECT top.w AS token, top.n AS true_n,
           CAST(min(sketch.c) AS BIGINT) AS cms_n
    FROM (SELECT w, n, r,
                 CAST('0x' || substr(md5(w || ':cms' || r), 1, 8)
                      AS BIGINT) % 256 AS slot
          FROM (SELECT w, n, unnest(generate_series(0, 3)) AS r
                FROM top)) top
    JOIN sketch USING (r, slot)
    GROUP BY 1, 2
    """,
)
def count_min_sketch_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the token stream (4×256 counters —
    ext/heavy_hitters.py::count_min_sketch), probed for the exact
    top-20 tokens: (token, true_n, cms_n) with cms_n ≥ true_n always
    and ≤ true_n + εN w.h.p. Unlike HLL/t-digest, CMS is a
    DETERMINISTIC pure function of the input multiset, so the whole
    sketch — hash rows, counters, min-probe — has an exact SQL twin;
    this is the certified member of the sketch family (the others are
    tolerance-pinned in pytest). Here the sketch folds the
    pre-aggregated count table (identical counters, vocab-sized
    fan-out); a streaming producer would fold raw tokens — counters
    merge either way."""
    from .ext.heavy_hitters import cms_estimate, count_min_sketch

    docs = spread(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    sketch = count_min_sketch(cnt, "w", weight_col="n")
    top = cnt.orderBy(F.col("n").desc(), "w").limit(20)
    return (
        cms_estimate(sketch, top.select("w"), "w")
        .join(top, "w")
        .select(
            F.col("w").alias("token"),
            F.col("n").alias("true_n"),
            "cms_n",
        )
    )


@_register("audio_energy_neardup")  # rows-only: binary payload ops
def audio_energy_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup detection — the third modality through the SAME
    banding core: synthesize one 16-bit PCM WAV clip per document
    (samples from the text's md5 stream), with PLANTED near-dups (every
    doc_id ≡ 7 mod 10 re-renders the previous doc's samples with a few
    samples nudged), fingerprint with the exact-integer 64-bit energy
    contour hash (ext/multimodal.py::energy_hash64 — the 1-D sibling
    of the image aHash) after a REAL stdlib WAV decode, and pair via
    ext/dedup_text.py::hamming_candidates. Only 8-byte fingerprints
    shuffle. Rows-only (binary payloads); fingerprint correctness and
    planted recall pinned in tests/test_multimodal.py."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from .ext.dedup_text import hamming_candidates
    from .ext.multimodal import MEDIA_SCHEMA, audio_fingerprint_media

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    own = docs.where(F.col("doc_id") % 10 != 7).select(
        F.col("doc_id").alias("render_id"),
        F.col("text").alias("base_text"),
    )
    shifted = docs.where(F.col("doc_id") % 10 == 6).select(
        (F.col("doc_id") + 1).alias("render_id"),
        F.col("text").alias("base_text"),
    )
    paired = docs.join(
        own.unionByName(shifted),
        docs["doc_id"] == F.col("render_id"),
        "inner",
    ).select("doc_id", "base_text")

    def make_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .ext.multimodal import encode_wav_pcm16

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["base_text"]):
                digest = hashlib.md5((text or "").encode()).digest()
                n = 2000 + digest[0] * 4
                raw = (digest * (n // 8 + 1))[: n * 2]
                base = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                # digest-derived amplitude envelope: a real energy
                # CONTOUR (random noise is flat → every bit sits at
                # the threshold and no fingerprint is stable)
                env = (
                    np.frombuffer(digest, dtype=np.uint8)[
                        (np.arange(n) * 64 // n) % 16
                    ].astype(np.int64)
                    % 8
                    + 1
                )
                samples = ((base * env) // 8).astype(np.int16)
                if int(did) % 10 == 7:
                    samples[:8] = (
                        samples[:8].astype(np.int64) // 2
                    ).astype(np.int16)
                # every third clip ships FLAC-compressed — lossless,
                # so fingerprints (and the planted-pair registry
                # semantics) are identical to the WAV path while the
                # compressed-audio decoder runs from the registry
                if int(did) % 3 == 0:
                    from .ext.flac import encode_flac

                    payload, mime = encode_flac(samples), "audio/flac"
                else:
                    payload, mime = encode_wav_pcm16(samples), "audio/wav"
                rows.append(
                    (
                        int(did),
                        "audio",
                        payload,
                        mime,
                        None,
                        None,
                        int(n * 1000 // 16000),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "mime",
                    "width", "height", "duration_ms",
                ],
            )

    media = paired.mapInPandas(make_media, schema=MEDIA_SCHEMA)
    sigs = audio_fingerprint_media(media).where(F.col("sig").isNotNull())
    pairs = hamming_candidates(
        sigs, id_col="media_id", sig_col="sig", bits=64, max_hamming=3
    )
    return pairs.select(
        "id_a",
        "id_b",
        "hamming",
        (
            (F.col("id_b") == F.col("id_a") + 1)
            & (F.col("id_b") % 10 == 7)
        ).cast("int").alias("planted"),
    )


@_register(
    "stream_cms_tokens",
    """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w
        FROM documents WHERE doc_id % 10 <> 0
    ),
    fan AS (SELECT w, r,
                   CAST('0x' || substr(md5(w || ':cms' || r), 1, 8)
                        AS BIGINT) % 256 AS slot
            FROM (SELECT w, unnest(generate_series(0, 3)) AS r
                  FROM toks))
    SELECT r, slot, CAST(count(*) AS BIGINT) AS c
    FROM fan GROUP BY 1, 2
    """,
)
def stream_cms_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sketch maintenance with a full oracle: document
    micro-batches (inserts of the evens, then inserts of the odds plus
    DELETES of every 10th doc) land as json; a real Structured
    Streaming query folds each batch's CMS counter increments —
    token explode → 4-way hash fan-out → signed (r, slot) deltas —
    into a snapshot-persisted sketch via the counting algorithm
    (exactly-once per batch_id through idempotent_view_commit).
    Counters are pure signed sums, so the CMS supports deletion and is
    batching-insensitive: the final sketch must hash-match a
    from-scratch SQL build over the surviving documents, however the
    file source batches the landing files. The streaming twin of
    ⊕ count_min_sketch_tokens; 100 TB: each commit shuffles at most
    d·w counter rows however large the micro-batch."""
    import glob
    import os
    import tempfile

    from .ext.heavy_hitters import _cms_slot
    from .ext.matview import idempotent_view_commit
    from .snapshots import snapshot_read

    tmp = tempfile.mkdtemp(prefix="scms_q_")
    landing, view_tbl, ckpt = f"{tmp}/in", f"{tmp}/view", f"{tmp}/ckpt"
    os.makedirs(landing)
    docs = load_table(spark, sf_dir, "documents")

    def batch_df(pred, op):
        return docs.where(pred).select(
            "doc_id", "text", F.lit(op).alias("op")
        )

    b1 = batch_df(F.col("doc_id") % 2 == 0, "I")
    b2 = batch_df(F.col("doc_id") % 2 == 1, "I").unionByName(
        batch_df(F.col("doc_id") % 10 == 0, "D")
    )
    for i, b in enumerate([b1, b2]):
        d = f"{tmp}/stage{i}"
        b.write.json(d)
        for j, part in enumerate(sorted(glob.glob(f"{d}/part-*.json"))):
            os.rename(part, f"{landing}/b{i}_{j:04d}.json")

    def commit(batch: DataFrame, batch_id: int) -> None:
        from functools import reduce as _reduce

        toks = batch.select(
            "op", F.explode(F.split("text", " ")).alias("w")
        )
        fan = _reduce(
            lambda a, b: a.unionByName(b),
            [
                toks.select(
                    "op",
                    F.lit(r).alias("r"),
                    _cms_slot(F.col("w"), r, 256).alias("slot"),
                )
                for r in range(4)
            ],
        )
        idempotent_view_commit(
            spark, view_tbl, fan, batch_id, ["r", "slot"],
            measures={"c": F.lit(1)},
        )

    q = (
        spark.readStream.schema("doc_id LONG, text STRING, op STRING")
        .json(landing)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            "stream_cms_tokens: stream did not finish within 300s — "
            "refusing to return a partial sketch"
        )
    return snapshot_read(spark, view_tbl).select(
        F.col("r").cast("int").alias("r"),
        F.col("slot").cast("bigint").alias("slot"),
        F.col("c").cast("bigint").alias("c"),
    )



@_register(
    "exact_substring_dedup_docs",
    """
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)
    ),
    grams AS (
        SELECT doc_id, pos,
               substr(md5(tok || ' ' || t1 || ' ' || t2 || ' ' || t3 || ' ' || t4 || ' ' || t5 || ' ' || t6 || ' ' || t7), 1, 16) AS h
        FROM (SELECT doc_id, pos, tok,
                 lead(tok, 1) OVER w AS t1,
                 lead(tok, 2) OVER w AS t2,
                 lead(tok, 3) OVER w AS t3,
                 lead(tok, 4) OVER w AS t4,
                 lead(tok, 5) OVER w AS t5,
                 lead(tok, 6) OVER w AS t6,
                 lead(tok, 7) OVER w AS t7
              FROM toks
              WINDOW w AS (PARTITION BY doc_id ORDER BY pos)) s
        WHERE t7 IS NOT NULL
    ),
    gs AS (
        SELECT h, min(doc_id * 4194304 + pos) AS canon
        FROM grams GROUP BY 1 HAVING count(*) >= 2
    ),
    st AS (
        SELECT g.doc_id, g.pos, TRUE AS is_start
        FROM grams g JOIN gs USING (h)
        WHERE g.doc_id * 4194304 + g.pos <> gs.canon
    ),
    cov AS (
        SELECT t.doc_id, t.pos, t.tok, st.is_start,
               max(CASE WHEN st.is_start THEN t.pos + 7 END)
                   OVER (PARTITION BY t.doc_id ORDER BY t.pos
                         ROWS UNBOUNDED PRECEDING) AS cov_end
        FROM toks t
        LEFT JOIN st ON t.doc_id = st.doc_id AND t.pos = st.pos
    )
    SELECT doc_id,
           count(*) AS n_toks,
           CAST(coalesce(sum(CASE WHEN is_start THEN 1 END), 0) AS BIGINT)
               AS n_dup_starts,
           CAST(coalesce(sum(CASE WHEN cov_end >= pos THEN 1 END), 0)
               AS BIGINT) AS n_removed,
           coalesce(md5(string_agg(tok, ' ' ORDER BY pos)
                        FILTER (WHERE cov_end IS NULL OR cov_end < pos)),
                    md5('')) AS clean_fp
    FROM cov GROUP BY 1
    """,
)
def exact_substring_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022 §4.1) as relational algebra
    (ext/dedup_text.py::exact_substring_dedup): every 8-token span that
    repeats corpus-wide is removed from all but one canonical
    occurrence, then documents are rebuilt from surviving tokens. The
    oracle replays the WHOLE pipeline — k-gram hashing, the packed-
    bigint canonical argmin, removal starts, running-max interval
    coverage, and the ordered re-assembly fingerprint — so the hash
    match certifies every stage, including span overlap merging. 100 TB:
    text never shuffles (16-hex keys), the per-k-gram argmin is
    partial-aggregatable (no hot-key window), coverage is one per-doc
    window."""
    from .ext.dedup_text import exact_substring_dedup

    docs = spread(load_table(spark, sf_dir, "documents"))
    return exact_substring_dedup(docs, k=8)



@_register(
    "bigram_lm_quality",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)
    ),
    occ AS (
        SELECT doc_id,
               substr(md5(tok || ' ' || y), 1, 16) AS bh,
               substr(md5(tok), 1, 16) AS xh
        FROM (SELECT doc_id, pos, tok,
                     lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                         AS y
              FROM toks) s
        WHERE y IS NOT NULL
    ),
    cxy AS (
        SELECT bh, min(xh) AS xh, count(*) AS cxy FROM occ GROUP BY 1
    ),
    cx AS (SELECT xh, count(*) AS cx FROM occ GROUP BY 1),
    stats AS (
        SELECT bh, CAST(cxy * 1000000 AS BIGINT) // cx AS ppm
        FROM cxy JOIN cx USING (xh)
    ),
    pd AS (
        SELECT o.doc_id, count(*) AS n_bigrams,
               CAST(sum(ppm) AS BIGINT) AS sp,
               CAST(min(ppm) AS BIGINT) AS min_ppm
        FROM occ o JOIN stats USING (bh) GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST({_sql_halfup('pd.sp', 'pd.n_bigrams')} AS BIGINT) AS lm_ppm,
           pd.min_ppm
    FROM (SELECT DISTINCT doc_id FROM documents) d
    LEFT JOIN pd USING (doc_id)
    """,
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter (Wenzek et al. 2020), log-free
    exact form (ext/lm.py::bigram_lm_score): each token transition is
    scored by its corpus conditional probability in ppm (exact integer
    division), a document's quality is the half-up mean transition ppm
    plus the min (most surprising transition). The oracle replays
    training AND inference — bigram/prefix counts, the ppm table, the
    per-doc rollup — so the hash match certifies the whole model.
    100 TB: two counts + two 16-hex equi-joins, stats table is
    vocabulary-squared-bounded, no floats and no log anywhere."""
    from .ext.lm import bigram_lm_score

    docs = spread(load_table(spark, sf_dir, "documents"))
    return bigram_lm_score(docs)


@_register(
    "ppl_bucket_split",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)
    ),
    occ AS (
        SELECT doc_id,
               substr(md5(tok || ' ' || y), 1, 16) AS bh,
               substr(md5(tok), 1, 16) AS xh
        FROM (SELECT doc_id, pos, tok,
                     lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                         AS y
              FROM toks) s
        WHERE y IS NOT NULL
    ),
    cxy AS (
        SELECT bh, min(xh) AS xh, count(*) AS cxy FROM occ GROUP BY 1
    ),
    cx AS (SELECT xh, count(*) AS cx FROM occ GROUP BY 1),
    stats AS (
        SELECT bh, CAST(cxy * 1000000 AS BIGINT) // cx AS ppm
        FROM cxy JOIN cx USING (xh)
    ),
    pd AS (
        SELECT o.doc_id, count(*) AS n_bigrams,
               CAST({_sql_halfup('sum(ppm)', 'count(*)')} AS BIGINT)
                   AS lm_ppm
        FROM occ o JOIN stats USING (bh) GROUP BY 1
    ),
    bucketed AS (
        SELECT doc_id, n_bigrams, lm_ppm,
               ntile(3) OVER (ORDER BY lm_ppm DESC, doc_id) AS bucket
        FROM pd
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST({_sql_halfup('sum(lm_ppm)', 'count(*)')} AS BIGINT)
               AS avg_ppm,
           CAST(min(lm_ppm) AS BIGINT) AS min_ppm,
           CAST(max(lm_ppm) AS BIGINT) AS max_ppm
    FROM bucketed GROUP BY 1
    """,
)
def ppl_bucket_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CCNet head/middle/tail split (Wenzek et al. 2020 §3.3): score
    every document with the self-trained bigram LM (shared
    ext/lm.py::bigram_lm_score — highest mean transition ppm = most
    predictable = "head"), rank the corpus, and cut exact TERCILES with
    a deterministic total order (score desc, doc_id) — the bucket
    assignment every CCNet-style pipeline uses to keep the head, sample
    the middle, and drop the tail. Output is per-bucket membership and
    score envelope. 100 TB: the terciles come from the engine's
    scalable ntile (operators/windows.py::scalable_ntile — exact SQL
    tile arithmetic over the range-partitioned global rank,
    hypothesis-tested equal to ``F.ntile``), NOT a corpus-wide
    unpartitioned Window: the only global structures are the sampled
    range bounds and one row-count per bucket, so no task ever sorts
    more than its range slice. Descending score order is expressed as
    an ascending total order on (-lm_ppm, doc_id) — identical bucket
    assignment, numeric leading column so the one-shuffle range
    bucketing applies (tests/test_analytics.py pins equality with the
    naive ``F.ntile`` form). At bench scale the scalable form pays a
    few extra bucket-sizing jobs (~1.4 s → ~5 s at sf0.1) — the price
    of removing the corpus-wide single-reducer sort whose cost, unlike
    these fixed jobs, grows with the data."""
    from .ext.lm import bigram_lm_score
    from .operators.windows import scalable_ntile

    docs = spread(load_table(spark, sf_dir, "documents"))
    pd_ = bigram_lm_score(docs).where(F.col("n_bigrams") > 0)
    b = scalable_ntile(
        pd_.withColumn("__neg_ppm", -F.col("lm_ppm")),
        ["__neg_ppm", "doc_id"],
        3,
        tile_col="bucket",
    ).select("doc_id", "n_bigrams", "lm_ppm", "bucket")
    return b.groupBy(F.col("bucket").cast("bigint").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        half_up_div(F.sum("lm_ppm"), F.count(F.lit(1)))
        .cast("bigint")
        .alias("avg_ppm"),
        F.min("lm_ppm").cast("bigint").alias("min_ppm"),
        F.max("lm_ppm").cast("bigint").alias("max_ppm"),
    )


@_register(
    "trigram_backoff_ppl",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                         AS ss
              FROM documents)
    ),
    seqs AS (
        SELECT doc_id, doc_id % 2 AS half, tok AS w1,
               lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
               lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
        FROM toks
    ),
    tri AS (
        SELECT doc_id, half,
               substr(md5(w1 || ' ' || w2 || ' ' || w3), 1, 16) AS h3,
               substr(md5(w1 || ' ' || w2), 1, 16) AS h12,
               substr(md5(w2 || ' ' || w3), 1, 16) AS h23,
               substr(md5(w3), 1, 16) AS hw
        FROM seqs WHERE w2 IS NOT NULL AND w3 IS NOT NULL
    ),
    big AS (
        SELECT substr(md5(w1 || ' ' || w2), 1, 16) AS h23,
               substr(md5(w1), 1, 16) AS h2
        FROM seqs WHERE half = 0 AND w2 IS NOT NULL
    ),
    uni AS (
        SELECT substr(md5(w1), 1, 16) AS hw FROM seqs WHERE half = 0
    ),
    c3 AS (SELECT h3, min(h12) AS h12, count(*) AS c3
           FROM tri WHERE half = 0 GROUP BY 1),
    c12 AS (SELECT h12, count(*) AS c12
            FROM tri WHERE half = 0 GROUP BY 1),
    stats3 AS (
        SELECT h3, CAST(c3 * 1000000 AS BIGINT) // c12 AS ppm3
        FROM c3 JOIN c12 USING (h12)
    ),
    c23 AS (SELECT h23, min(h2) AS h2, count(*) AS c23
            FROM big GROUP BY 1),
    c2 AS (SELECT h2, count(*) AS c2
           FROM (SELECT hw AS h2 FROM uni) GROUP BY 1),
    stats2 AS (
        SELECT h23,
               (CAST(c23 * 1000000 AS BIGINT) // c2) * 2 // 5 AS ppm2
        FROM c23 JOIN c2 USING (h2)
    ),
    stats1 AS (
        SELECT hw,
               (CAST(count(*) * 1000000 AS BIGINT)
                    // (SELECT count(*) FROM uni)) * 4 // 25 AS ppm1
        FROM uni GROUP BY hw
    ),
    scored AS (
        SELECT t.doc_id,
               CASE WHEN s3.ppm3 IS NOT NULL THEN s3.ppm3
                    WHEN s2.ppm2 IS NOT NULL THEN s2.ppm2
                    ELSE coalesce(s1.ppm1, 0) END AS ppm
        FROM tri t
        LEFT JOIN stats3 s3 USING (h3)
        LEFT JOIN stats2 s2 USING (h23)
        LEFT JOIN stats1 s1 USING (hw)
        WHERE t.half = 1
    ),
    pd AS (
        SELECT doc_id, count(*) AS n_trigrams,
               CAST(sum(ppm) AS BIGINT) AS sp,
               CAST(min(ppm) AS BIGINT) AS min_ppm
        FROM scored GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(pd.n_trigrams, 0) AS BIGINT) AS n_trigrams,
           CAST({_sql_halfup('pd.sp', 'pd.n_trigrams')} AS BIGINT)
               AS bo_ppm,
           pd.min_ppm
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN pd USING (doc_id)
    """,
)
def trigram_backoff_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out stupid-backoff trigram LM scoring (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the web-scale
    backoff that replaces Kneser-Ney smoothing with a fixed α = 0.4
    penalty precisely because it needs no renormalization pass): the
    model trains on even doc_ids and scores odd doc_ids, the CCNet
    deployment shape (score the crawl with a reference-corpus model).
    Every backoff level is exact integer arithmetic (α as the rational
    2/5, α² as 4/25 — see ext/lm.py::trigram_backoff_score), so the
    oracle replays training AND inference bit-for-bit. 100 TB: three
    vocabulary-bounded count tables, three LEFT equi-joins on 16-hex
    keys, map-side-combining per-doc rollup; text never shuffles."""
    from .ext.lm import trigram_backoff_score

    docs = spread(load_table(spark, sf_dir, "documents"))
    train = docs.where(F.col("doc_id") % 2 == 0)
    ev = docs.where(F.col("doc_id") % 2 == 1)
    return trigram_backoff_score(train, ev)


@_register(
    "kneser_ney_ppl",
    f"""
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id,
                     list_filter(string_split(text, ' '), x -> x <> '')
                         AS ss
              FROM documents)
    ),
    seqs AS (
        SELECT doc_id, doc_id % 2 AS half, tok AS w1,
               lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM toks
    ),
    big AS (
        SELECT doc_id, half,
               substr(md5(w1 || ' ' || w2), 1, 16) AS h12,
               substr(md5(w1), 1, 16) AS h1,
               substr(md5(w2), 1, 16) AS hw
        FROM seqs WHERE w2 IS NOT NULL
    ),
    types AS (
        SELECT h12, min(h1) AS h1, min(hw) AS hw, count(*) AS c12
        FROM big WHERE half = 0 GROUP BY 1
    ),
    ctx1 AS (SELECT h1, count(*) AS c1
             FROM big WHERE half = 0 GROUP BY 1),
    n1p AS (SELECT h1, count(*) AS n1p FROM types GROUP BY 1),
    nr AS (SELECT hw, count(*) AS nr FROM types GROUP BY 1),
    tot AS (SELECT count(*) AS t FROM types),
    scored AS (
        SELECT b.doc_id,
               CASE WHEN (SELECT t FROM tot) = 0 THEN 0
                    WHEN c.c1 IS NOT NULL THEN CAST(
                        (greatest(
                             CAST(coalesce(ty.c12, 0) AS HUGEINT) * 4 - 3,
                             0)
                             * (SELECT t FROM tot)
                         + CAST(p.n1p AS HUGEINT) * 3 * coalesce(r.nr, 0))
                        * 1000000
                        // (CAST(c.c1 AS HUGEINT) * 4
                            * (SELECT t FROM tot)) AS BIGINT)
                    ELSE CAST(
                        CAST(coalesce(r.nr, 0) AS HUGEINT) * 1000000
                        // (SELECT t FROM tot) AS BIGINT)
               END AS ppm
        FROM big b
        LEFT JOIN (SELECT h12, c12 FROM types) ty USING (h12)
        LEFT JOIN ctx1 c USING (h1)
        LEFT JOIN n1p p USING (h1)
        LEFT JOIN nr r USING (hw)
        WHERE b.half = 1
    ),
    pd AS (
        SELECT doc_id, count(*) AS n_bigrams,
               CAST(sum(ppm) AS BIGINT) AS sp,
               CAST(min(ppm) AS BIGINT) AS min_ppm
        FROM scored GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST({_sql_halfup('pd.sp', 'pd.n_bigrams')} AS BIGINT)
               AS kn_ppm,
           pd.min_ppm
    FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
    LEFT JOIN pd USING (doc_id)
    """,
)
def kneser_ney_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out interpolated Kneser-Ney bigram scoring (Chen & Goodman
    1999 §3) — the canonical n-gram smoothing beside the engine's CCNet
    bigram ppm and stupid-backoff scorers, in exact integer arithmetic:
    the absolute discount D = 3/4 is an exact rational, so clearing
    denominators (×4·c1·T) turns every transition probability into an
    integer ratio the oracle replays bit-for-bit — training (type/
    context/continuation tables) AND inference. The model provably
    normalizes (Σ P(w2|w1) = 1, pinned in the Fraction replay pytest);
    unseen contexts fall back to the bare continuation probability
    N1+(·w2)/T, KN's own unigram estimate. Train on even doc_ids,
    score odd — the CCNet deployment shape. 100 TB: four vocabulary-
    bounded partial-agg count tables on 16-hex keys + three LEFT
    equi-joins + one map-side-combining per-doc rollup; text never
    shuffles (see ext/lm.py::kneser_ney_score)."""
    from .ext.lm import kneser_ney_score

    docs = spread(load_table(spark, sf_dir, "documents"))
    train = docs.where(F.col("doc_id") % 2 == 0)
    ev = docs.where(F.col("doc_id") % 2 == 1)
    return kneser_ney_score(train, ev)



@_register("video_frame_sample_stats")  # rows-only: binary payload ops
def video_frame_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling exercised end-to-end from the registry:
    synthesize an ANIMATED GIF per document (2-4 full frames, digest-
    derived palette/pixels/per-frame delays, NETSCAPE loop extension),
    decode every frame with the stdlib LZW decoder, sample the timeline
    every 40 ms (ext/multimodal.py::sample_frames_real), fingerprint
    each sampled frame with exact-integer ahash64, and aggregate per
    source. Docs ≡ 0 (mod 37) ship a truncated payload to exercise the
    quarantine row. Rows-only check (binary payloads have no SQL twin);
    codec round-trip and timeline semantics are pinned bit-exact in
    tests/test_multimodal.py."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from .ext.multimodal import MEDIA_SCHEMA, sample_frames_real

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )

    def make_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .ext.multimodal import encode_gif_animated

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5((text or "").encode()).digest()
                k = 4 + digest[3] % 5
                pal = np.frombuffer(
                    hashlib.md5(digest + b"pal").digest() * 2,
                    dtype=np.uint8,
                )[: k * 3].reshape(k, 3)
                n_frames = 2 + digest[2] % 3
                frames, delays = [], []
                for f in range(n_frames):
                    raw = hashlib.md5(
                        digest + f.to_bytes(2, "big")
                    ).digest() * 9
                    frames.append(
                        (
                            np.frombuffer(raw[:144], dtype=np.uint8) % k
                        ).reshape(12, 12)
                    )
                    delays.append((digest[4 + f] % 5 + 1) * 2)
                payload = encode_gif_animated(frames, pal, delays)
                if did % 37 == 0:  # quarantine path: truncated container
                    payload = payload[: len(payload) // 2]
                rows.append(
                    (
                        int(did),
                        "video",
                        payload,
                        "image/gif",
                        12,
                        12,
                        sum(delays) * 10,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_SCHEMA])

    media = docs.mapInPandas(make_media, schema=MEDIA_SCHEMA)
    frames = sample_frames_real(media, every_ms=40)
    joined = frames.join(
        docs.select(F.col("doc_id").alias("media_id"), "source"), "media_id"
    )
    return (
        joined.groupBy("source")
        .agg(
            F.countDistinct("media_id").cast("bigint").alias("n_videos"),
            F.count(F.when(F.col("frame_idx").isNotNull(), 1))
            .cast("bigint")
            .alias("n_samples"),
            F.coalesce(F.sum("ts_ms"), F.lit(0))
            .cast("bigint")
            .alias("sum_ts_ms"),
            F.countDistinct("sig").cast("bigint").alias("distinct_sigs"),
            F.count(F.when(F.col("frame_idx").isNull(), 1))
            .cast("bigint")
            .alias("n_quarantined"),
        )
        .orderBy("source")
    )



@_register(
    "domain_cap_docs",
    """
    WITH ranked AS (
        SELECT source, doc_id,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR) || ':domcap'),
                            doc_id
               ) AS rnk
        FROM documents
    ),
    kept AS (SELECT * FROM ranked WHERE rnk <= 15)
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(t.n_total AS BIGINT) AS n_total,
           CAST(sum(k.doc_id) AS BIGINT) AS kept_id_sum
    FROM kept k
    JOIN (SELECT source, count(*) AS n_total FROM documents GROUP BY 1) t
      USING (source)
    GROUP BY 1, 3
    """,
)
def domain_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (RefinedWeb/Gopher-style source
    balancing): at most 15 documents survive per source, chosen by a
    deterministic salted-md5 order (an unbiased uniform sample that is
    stable under corpus append — a doc's rank key never changes). Runs
    through operators/windows.py::scalable_topk_per_group, so a viral
    domain never funnels through one reducer: phase 1 keeps a salted
    local top-k (≤ buckets·k rows survive per domain regardless of its
    size), phase 2 ranks only survivors. The oracle replays the rank
    key and cap exactly; the salted two-phase plan is pinned equal to
    the plain window in tests/test_operators.py."""
    from .operators.windows import scalable_topk_per_group

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "source",
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":domcap")))
        .alias("__rk"),
    )
    kept = scalable_topk_per_group(
        docs,
        ["source"],
        ["__rk", "doc_id"],
        k=15,
        salt_by=["doc_id"],
    )
    totals = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("doc_id").cast("bigint").alias("kept_id_sum"),
        )
        .join(totals, "source")
        .select("source", "n_kept", "n_total", "kept_id_sum")
    )



@_register(
    "phrase_search_topgram",
    """
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)
    ),
    tri AS (
        SELECT doc_id, pos, tok AS w0,
               lead(tok, 1) OVER w AS w1,
               lead(tok, 2) OVER w AS w2
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    top1 AS (
        SELECT w0, w1, w2 FROM tri WHERE w2 IS NOT NULL
        GROUP BY 1, 2, 3 ORDER BY count(*) DESC, w0, w1, w2 LIMIT 1
    ),
    terms AS (
        SELECT CAST(0 AS BIGINT) AS off, substr(md5(w0), 1, 16) AS th
        FROM top1
        UNION ALL
        SELECT 1, substr(md5(w1), 1, 16) FROM top1
        UNION ALL
        SELECT 2, substr(md5(w2), 1, 16) FROM top1
    ),
    post AS (
        SELECT doc_id, pos, substr(md5(tok), 1, 16) AS th FROM toks
    ),
    cand AS (
        SELECT p.doc_id, p.pos - t.off AS pos0, t.off
        FROM post p JOIN terms t USING (th)
    ),
    m AS (
        SELECT doc_id, pos0 FROM cand WHERE pos0 >= 0
        GROUP BY 1, 2
        HAVING count(DISTINCT off) = (SELECT count(DISTINCT off) FROM terms)
    )
    SELECT m.doc_id,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(pos0) AS BIGINT) AS first_pos,
           (SELECT w0 || ' ' || w1 || ' ' || w2 FROM top1) AS phrase
    FROM m GROUP BY 1
    """,
)
def phrase_search_topgram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index phrase search (ext/search.py): postings
    of (term-hash, doc, pos), query = the corpus's most frequent
    trigram (deterministic count-desc/lexicographic tie-break — a
    data-derived phrase, so the query is self-contained), answered by
    the k-way offset-aligned anchor intersection: one uniform equi-join
    + count(distinct offset)=k per anchor instead of k-1 self-joins.
    The oracle replays postings, query selection, anchor votes and the
    intersection, so the hash match certifies the whole search path.
    100 TB: text never shuffles (16-hex terms), the phrase is a 3-row
    broadcast, anchors partial-aggregate; a persisted postings table
    partitioned by term hash makes the lookup partition-prunable."""
    from .ext.search import build_postings, phrase_match

    docs = spread(load_table(spark, sf_dir, "documents"))
    arr = docs.select("doc_id", F.split("text", " ").alias("t"))
    tri_seq = F.when(
        F.size("t") >= 3, F.sequence(F.lit(1), F.size("t") - 2)
    ).otherwise(F.array().cast("array<int>"))
    tri = arr.select(
        F.explode(
            F.transform(
                tri_seq,
                lambda i: F.struct(
                    F.element_at("t", i).alias("w0"),
                    F.element_at("t", i + 1).alias("w1"),
                    F.element_at("t", i + 2).alias("w2"),
                ),
            )
        ).alias("g")
    ).select("g.w0", "g.w1", "g.w2")
    top1 = (
        tri.groupBy("w0", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "w0", "w1", "w2")
        .limit(1)
        .drop("__c")
    )
    terms = top1.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("bigint").alias("off"),
                        F.substring(F.md5(f"w{i}"), 1, 16).alias("th"),
                    )
                    for i in range(3)
                ]
            )
        ).alias("t")
    ).select("t.off", "t.th")
    postings = build_postings(docs)
    matches = phrase_match(postings, terms)
    return (
        matches.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matches"),
            F.min("pos0").cast("bigint").alias("first_pos"),
        )
        .crossJoin(
            F.broadcast(
                top1.select(
                    F.concat_ws(" ", "w0", "w1", "w2").alias("phrase")
                )
            )
        )
        .select("doc_id", "n_matches", "first_pos", "phrase")
    )


@_register(
    "phrase_kwic_snippets",
    """
    WITH toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM documents)
    ),
    tri AS (
        SELECT doc_id, pos, tok AS w0,
               lead(tok, 1) OVER w AS w1,
               lead(tok, 2) OVER w AS w2
        FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    top1 AS (
        SELECT w0, w1, w2 FROM tri WHERE w2 IS NOT NULL
        GROUP BY 1, 2, 3 ORDER BY count(*) DESC, w0, w1, w2 LIMIT 1
    ),
    terms AS (
        SELECT CAST(0 AS BIGINT) AS off, substr(md5(w0), 1, 16) AS th
        FROM top1
        UNION ALL
        SELECT 1, substr(md5(w1), 1, 16) FROM top1
        UNION ALL
        SELECT 2, substr(md5(w2), 1, 16) FROM top1
    ),
    post AS (
        SELECT doc_id, pos, substr(md5(tok), 1, 16) AS th FROM toks
    ),
    cand AS (
        SELECT p.doc_id, p.pos - t.off AS pos0, t.off
        FROM post p JOIN terms t USING (th)
    ),
    m AS (
        SELECT doc_id, pos0 FROM cand WHERE pos0 >= 0
        GROUP BY 1, 2
        HAVING count(DISTINCT off) = (SELECT count(DISTINCT off) FROM terms)
    )
    SELECT m.doc_id, CAST(m.pos0 AS BIGINT) AS pos0,
           array_to_string(
               s.ss[CAST(greatest(m.pos0 - 3, 0) + 1 AS BIGINT)
                    : CAST(m.pos0 + 6 AS BIGINT)], ' ') AS snippet
    FROM m JOIN (
        SELECT doc_id, string_split(text, ' ') AS ss FROM documents
    ) s USING (doc_id)
    """,
)
def phrase_kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) snippet extraction — the corpus-
    inspection step that follows a phrase hit in any retrieval/
    decontamination review UI: for every anchor where the corpus's top
    trigram matches (the same deterministic phrase + anchor
    intersection as phrase_search_topgram), emit the ±3-token context
    window around the phrase as a snippet. The window slice is
    position arithmetic on the already-split token array (greatest(p−3,
    0) .. p+5, both engines truncating at the document edges
    identically), so snippets replay digit-for-digit in the oracle.
    100 TB: anchors are match-sized; the text join back is
    matched-docs-only (the one place raw text is touched — snippets are
    the reason it must be); everything upstream is the 16-hex postings
    plan that never shuffles text."""
    from .ext.search import build_postings, phrase_match

    docs = spread(load_table(spark, sf_dir, "documents"))
    arr = docs.select("doc_id", F.split("text", " ").alias("t"))
    tri_seq = F.when(
        F.size("t") >= 3, F.sequence(F.lit(1), F.size("t") - 2)
    ).otherwise(F.array().cast("array<int>"))
    tri = arr.select(
        F.explode(
            F.transform(
                tri_seq,
                lambda i: F.struct(
                    F.element_at("t", i).alias("w0"),
                    F.element_at("t", i + 1).alias("w1"),
                    F.element_at("t", i + 2).alias("w2"),
                ),
            )
        ).alias("g")
    ).select("g.w0", "g.w1", "g.w2")
    top1 = (
        tri.groupBy("w0", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.col("__c").desc(), "w0", "w1", "w2")
        .limit(1)
        .drop("__c")
    )
    terms = top1.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("bigint").alias("off"),
                        F.substring(F.md5(f"w{i}"), 1, 16).alias("th"),
                    )
                    for i in range(3)
                ]
            )
        ).alias("t")
    ).select("t.off", "t.th")
    matches = phrase_match(build_postings(docs), terms)
    start0 = F.greatest(F.col("pos0") - 3, F.lit(0))
    length = F.col("pos0") + F.lit(5) - start0 + 1
    return matches.join(arr, "doc_id").select(
        "doc_id",
        F.col("pos0").cast("bigint").alias("pos0"),
        F.concat_ws(
            " ",
            F.slice("t", (start0 + 1).cast("int"), length.cast("int")),
        ).alias("snippet"),
    )



@_register(
    "source_target_l1_shift",
    """
    WITH toks AS (
        SELECT source, lang,
               (CAST('0x' || substr(md5(tok || ':fh'), 1, 8) AS BIGINT) % 64) AS slot
        FROM (SELECT source, lang, unnest(string_split(text, ' ')) AS tok
              FROM documents)
    ),
    tgt AS (
        SELECT slot,
               CAST(count(*) * 1000000 AS BIGINT)
                   // (SELECT count(*) FROM toks WHERE lang = 'en')
                   AS ppm_t
        FROM toks WHERE lang = 'en' GROUP BY 1
    ),
    srcn AS (SELECT source, count(*) AS n FROM toks GROUP BY 1),
    srcd AS (
        SELECT t.source, t.slot,
               CAST(count(*) * 1000000 AS BIGINT) // s.n AS ppm_s
        FROM toks t JOIN srcn s USING (source)
        GROUP BY 1, 2, s.n
    ),
    grid AS (
        SELECT s.source, d.slot,
               coalesce(sd.ppm_s, 0) AS ppm_s,
               coalesce(tg.ppm_t, 0) AS ppm_t
        FROM (SELECT DISTINCT source FROM srcn) s
        CROSS JOIN (SELECT DISTINCT slot FROM toks) d
        LEFT JOIN srcd sd ON sd.source = s.source AND sd.slot = d.slot
        LEFT JOIN tgt tg ON tg.slot = d.slot
    )
    SELECT g.source,
           CAST(sum(abs(g.ppm_s - g.ppm_t)) AS BIGINT) AS l1_ppm,
           CAST(max(n.n) AS BIGINT) AS n_toks
    FROM grid g JOIN srcn n USING (source)
    GROUP BY 1
    """,
)
def source_target_l1_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style distribution diagnostic (Xie et al. 2023 importance
    resampling selects data by hashed-n-gram distribution match; the
    log-ratio weight's certified integer sibling is the L1 shift):
    tokens hash into 64 slots (functions/text.py::feature_hash_slot —
    the same md5 hashing trick as classifier_filter_docs), the target
    distribution is the corpus's English slice, and each source scores
    the exact L1 distance between its slot distribution and the
    target's, in ppm (integer division, no floats). Missing slots count
    as 0 via a sources×slots grid — slot space is fixed (64), so the
    grid is model-sized, never corpus-sized. 100 TB: one token scan,
    two slot-keyed partial aggregations, a broadcast-sized join."""
    from .functions.text import feature_hash_slot

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source",
        "lang",
        F.explode(F.split("text", " ")).alias("tok"),
    ).select(
        "source", "lang", feature_hash_slot(F.col("tok"), 64).alias("slot")
    )
    tgt_n = toks.where(F.col("lang") == "en").agg(
        F.count(F.lit(1)).alias("__tn")
    )
    tgt = (
        toks.where(F.col("lang") == "en")
        .groupBy("slot")
        .agg(F.count(F.lit(1)).alias("__c"))
        .crossJoin(F.broadcast(tgt_n))
        .select("slot", F.expr("__c * 1000000 div __tn").alias("ppm_t"))
    )
    srcn = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    srcd = (
        toks.groupBy("source", "slot")
        .agg(F.count(F.lit(1)).alias("__c"))
        .join(srcn, "source")
        .select(
            "source", "slot", F.expr("__c * 1000000 div n").alias("ppm_s")
        )
    )
    grid = (
        srcn.select("source")
        .crossJoin(F.broadcast(toks.select("slot").distinct()))
        .join(srcd, ["source", "slot"], "left")
        .join(F.broadcast(tgt), "slot", "left")
        .select(
            "source",
            F.coalesce("ppm_s", F.lit(0)).alias("ppm_s"),
            F.coalesce("ppm_t", F.lit(0)).alias("ppm_t"),
        )
    )
    return (
        grid.groupBy("source")
        .agg(
            F.sum(F.abs(F.col("ppm_s") - F.col("ppm_t")))
            .cast("bigint")
            .alias("l1_ppm")
        )
        .join(srcn, "source")
        .select("source", "l1_ppm", F.col("n").cast("bigint").alias("n_toks"))
    )



@_register(
    "curation_funnel_docs",
    """
    WITH arr AS (
        SELECT doc_id, lang, text, string_split(text, ' ') AS t
        FROM documents
    ),
    s1 AS (
        SELECT * FROM arr
        WHERE len(t) BETWEEN 20 AND 2000
          AND CAST(len(list_distinct(t)) * 1000000 AS BIGINT) // len(t)
              >= 300000
    ),
    s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'de', 'es', 'fr')),
    s3 AS (
        SELECT * FROM s2
        QUALIFY row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) = 1
    ),
    toks AS (
        SELECT doc_id,
               CAST(generate_subscripts(ss, 1) - 1 AS BIGINT) AS pos,
               unnest(ss) AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS ss FROM s3)
    ),
    cid AS (
        SELECT doc_id, pos, tok,
               COALESCE(sum(CASE WHEN substr(md5(tok || ':cdc'), 1, 1)
                                 IN ('0', '1', '2') THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS chunk_id
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, chunk_id, count(*) AS n_toks,
               string_agg(tok, ' ' ORDER BY pos) AS chunk
        FROM cid GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT md5(chunk) AS h, count(DISTINCT doc_id) AS dfc
        FROM chunks GROUP BY 1
    ),
    kept AS (
        SELECT c.* FROM chunks c
        WHERE md5(c.chunk) NOT IN (SELECT h FROM dfreq WHERE dfc > 1)
    ),
    s4 AS (
        SELECT doc_id, CAST(sum(n_toks) AS BIGINT) AS kept_toks
        FROM kept GROUP BY 1
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(t)) AS BIGINT) AS n_tokens
    FROM arr
    UNION ALL
    SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
           CAST(sum(len(t)) AS BIGINT) FROM s1
    UNION ALL
    SELECT 2, 'lang_gate', CAST(count(*) AS BIGINT),
           CAST(sum(len(t)) AS BIGINT) FROM s2
    UNION ALL
    SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(len(t)) AS BIGINT) FROM s3
    UNION ALL
    SELECT 4, 'chunk_clean', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(kept_toks), 0) AS BIGINT) FROM s4
    """,
)
def curation_funnel_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation funnel with per-stage survival
    accounting — the data card a real cleaning pipeline publishes:
    raw → exact-integer quality gate (token count in [20, 2000] AND
    distinct-token ratio ≥ 30%) → language gate → exact keep-first
    dedup → content-defined chunk boilerplate removal. One certified
    query composes four stages that are individually certified
    elsewhere (quality_filter_docs, dedup_exact_docs,
    chunk_dedup_docs) — the oracle replays the COMPOSITION, stage by
    stage, so ordering effects (dedup before chunk df counting) are
    pinned too. Output: (stage, stage_name, n_docs, n_tokens).
    100 TB: each gate is a scan-level filter; the dedup shuffles a
    32-hex key; the chunk stage re-runs the certified cdc pipeline on
    survivors only."""
    from .ext.dedup_text import cdc_chunk_dedup

    docs = spread(load_table(spark, sf_dir, "documents"))
    arr = docs.select(
        "doc_id", "lang", "text", F.split("text", " ").alias("t")
    )
    n = F.size("t")
    s1 = arr.where(
        n.between(20, 2000)
        & (
            F.expr(
                "size(array_distinct(t)) * CAST(1000000 AS BIGINT) "
                "div size(t)"
            )
            >= 300000
        )
    )
    s2 = s1.where(F.col("lang").isin("en", "de", "es", "fr"))
    s3 = dedupe_keep_first(
        s2.withColumn("__h", F.md5("text")), ["__h"], order_by=["doc_id"]
    ).drop("__h")
    # s3 feeds the chunk stage AND its own stage aggregate: materialize
    # the deduped survivor set once (optimization round 8); reliable=True
    # because the survivor set is corpus-sized (optimization round 9 —
    # lineage kept + DISK_ONLY, see source_shingle_jaccard)
    from .planmode import checkpoint

    s3 = checkpoint(s3, reliable=True)
    s4 = cdc_chunk_dedup(s3.select("doc_id", "text")).where(
        F.col("n_kept") > 0
    )

    def stage(df, i, name, tok_col):
        return df.agg(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(tok_col), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )

    return (
        stage(arr, 0, "raw", F.size("t"))
        .unionByName(stage(s1, 1, "quality_gate", F.size("t")))
        .unionByName(stage(s2, 2, "lang_gate", F.size("t")))
        .unionByName(stage(s3, 3, "exact_dedup", F.size("t")))
        .unionByName(stage(s4, 4, "chunk_clean", F.col("kept_toks")))
    )



@_register(
    "curation_funnel_semantic",
    f"""
    WITH arr AS (
        SELECT doc_id, lang, text, string_split(text, ' ') AS t
        FROM documents
    ),
    s1 AS (
        SELECT * FROM arr
        WHERE len(t) BETWEEN 20 AND 2000
          AND CAST(len(list_distinct(t)) * 1000000 AS BIGINT) // len(t)
              >= 300000
    ),
    s2 AS (SELECT * FROM s1 WHERE lang IN ('en', 'de', 'es', 'fr')),
    s3 AS (
        SELECT * FROM s2
        QUALIFY row_number() OVER (PARTITION BY md5(text)
                                   ORDER BY doc_id) = 1
    ),
    se AS (
        SELECT e.vec_id, e.embedding
        FROM embeddings e JOIN s3 ON s3.doc_id = e.vec_id
    ),
    c AS (
        SELECT vec_id AS cid, embedding AS cv FROM se
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    a0 AS (
        SELECT se.vec_id, se.embedding, c.cid,
               {_cos_raw_sql('se.embedding', 'c.cv')} AS sim
        FROM se CROSS JOIN c
    ),
    scored AS (
        SELECT vec_id, embedding, CAST(cid AS INT) AS cid,
               round(sim, 6) AS centrality
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM a0
        ) WHERE rn = 1
    ),
    pairable AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cid ORDER BY centrality DESC, vec_id ASC
            ) AS crk
            FROM scored
        ) WHERE crk <= 64
    ),
    dropped AS (
        SELECT DISTINCT b.vec_id
        FROM pairable a JOIN pairable b ON a.cid = b.cid
         AND ((a.centrality > b.centrality) OR
              (a.centrality = b.centrality AND a.vec_id < b.vec_id))
        WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.4
    ),
    s4 AS (
        SELECT s3.* FROM s3
        LEFT JOIN dropped d ON d.vec_id = s3.doc_id
        WHERE d.vec_id IS NULL
    )
    SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(t)) AS BIGINT) AS n_tokens
    FROM arr
    UNION ALL
    SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
           CAST(sum(len(t)) AS BIGINT) FROM s1
    UNION ALL
    SELECT 2, 'lang_gate', CAST(count(*) AS BIGINT),
           CAST(sum(len(t)) AS BIGINT) FROM s2
    UNION ALL
    SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
           CAST(sum(len(t)) AS BIGINT) FROM s3
    UNION ALL
    SELECT 4, 'semantic_dedup', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(len(t)), 0) AS BIGINT) FROM s4
    """,
)
def curation_funnel_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation funnel's CROSS-MODAL variant: text gates feed the
    EMBEDDING-space semantic stage — raw → exact-integer quality gate →
    language gate → exact keep-first dedup → SemDeDup over the
    survivors' embeddings (seeds drawn from the SURVIVOR set, so the
    semantic model is itself downstream of the text gates — the
    composition the oracle must and does replay; max_cluster=64 cap,
    0.4 threshold so this corpus produces real semantic drops).
    Alongside curation_funnel_docs (whose stage 4 is chunk boilerplate
    removal) the two funnels certify both cleaning orders a real
    pipeline debates. Per-stage docs/tokens; 100 TB notes as the text
    funnel, plus one embeddings equi-join and a k×dim model collect."""
    from .ext.similarity import semantic_dedup

    docs = spread(load_table(spark, sf_dir, "documents"))
    emb = load_table(spark, sf_dir, "embeddings")
    arr = docs.select(
        "doc_id", "lang", "text", F.split("text", " ").alias("t")
    )
    n = F.size("t")
    s1 = arr.where(
        n.between(20, 2000)
        & (
            F.expr(
                "size(array_distinct(t)) * CAST(1000000 AS BIGINT) "
                "div size(t)"
            )
            >= 300000
        )
    )
    s2 = s1.where(F.col("lang").isin("en", "de", "es", "fr"))
    s3 = dedupe_keep_first(
        s2.withColumn("__h", F.md5("text")), ["__h"], order_by=["doc_id"]
    ).drop("__h")
    # s3 (the deduped survivor set, the funnel's expensive shared prefix:
    # filters + window dedup shuffle) feeds FOUR consumers — the centroid
    # collect below, the embeddings join, its own stage aggregate, and
    # s4 — materialize once (optimization round 8); reliable=True because
    # the survivor set is corpus-sized (optimization round 9 — lineage
    # kept + DISK_ONLY, see source_shingle_jaccard)
    from .planmode import checkpoint

    s3 = checkpoint(s3, reliable=True)
    se = emb.join(
        s3.select(F.col("doc_id").alias("vec_id")), on="vec_id"
    ).select("vec_id", "embedding")
    # the semantic model (seed centroids) is drawn from the SURVIVOR
    # set: the funnel's earlier gates shape the model, not just its
    # input — the ordering effect the oracle replays
    cents = _md5_seed_centroids(se)
    sem = semantic_dedup(se, cents, threshold=0.4, max_cluster=64)
    # anti-join on the DROPPED set, not semi-join on the kept set: a
    # document with no embedding row has no semantic evidence against
    # it and must SURVIVE the stage (at sf0.1 embeddings covers 2000 of
    # 5000 docs — an inner join silently deleted the other 2173
    # survivors and failed the sf0.1 oracle; a dedup stage never
    # silently deletes data)
    dropped = sem.where(~F.col("is_kept")).select(
        F.col("vec_id").alias("doc_id")
    )
    s4 = s3.join(dropped, on="doc_id", how="left_anti")

    def stage(df, i, name):
        return df.agg(
            F.lit(i).cast("bigint").alias("stage"),
            F.lit(name).alias("stage_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(F.size("t")), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )

    return (
        stage(arr, 0, "raw")
        .unionByName(stage(s1, 1, "quality_gate"))
        .unionByName(stage(s2, 2, "lang_gate"))
        .unionByName(stage(s3, 3, "exact_dedup"))
        .unionByName(stage(s4, 4, "semantic_dedup"))
    )


@_register(
    "bloom_filter_fp_rate",
    """
    WITH b AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE source = 'src0'
    ),
    p AS (
        SELECT DISTINCT unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE source = 'src1'
    ),
    bp AS (
        SELECT tok, (CAST('0x' || substr(md5(tok || ':bloom0'), 1, 8) AS BIGINT) % 1020) AS pos FROM b
        UNION ALL
        SELECT tok, (CAST('0x' || substr(md5(tok || ':bloom1'), 1, 8) AS BIGINT) % 1020) AS pos FROM b
        UNION ALL
        SELECT tok, (CAST('0x' || substr(md5(tok || ':bloom2'), 1, 8) AS BIGINT) % 1020) AS pos FROM b
    ),
    filt AS (
        SELECT pos // 60 AS lane,
               bit_or(CAST(1 AS BIGINT) << CAST(pos % 60 AS INT)) AS bits
        FROM bp GROUP BY 1
    ),
    pp AS (
        SELECT tok, (CAST('0x' || substr(md5(tok || ':bloom0'), 1, 8) AS BIGINT) % 1020) AS pos FROM p
        UNION ALL
        SELECT tok, (CAST('0x' || substr(md5(tok || ':bloom1'), 1, 8) AS BIGINT) % 1020) AS pos FROM p
        UNION ALL
        SELECT tok, (CAST('0x' || substr(md5(tok || ':bloom2'), 1, 8) AS BIGINT) % 1020) AS pos FROM p
    ),
    hits AS (
        SELECT pp.tok,
               CASE WHEN f.bits IS NOT NULL
                     AND (f.bits & (CAST(1 AS BIGINT)
                                    << CAST(pp.pos % 60 AS INT))) <> 0
                    THEN 1 ELSE 0 END AS hit
        FROM pp LEFT JOIN filt f ON f.lane = pp.pos // 60
    ),
    mem AS (SELECT tok, min(hit) AS bloom_member FROM hits GROUP BY 1),
    truth AS (
        SELECT p.tok,
               CASE WHEN b.tok IS NOT NULL THEN 1 ELSE 0 END AS is_member
        FROM p LEFT JOIN b USING (tok)
    )
    SELECT CAST((SELECT count(*) FROM b) AS BIGINT) AS n_build,
           CAST(count(*) AS BIGINT) AS n_probe,
           CAST(sum(m.bloom_member) AS BIGINT) AS n_bloom_pos,
           CAST(sum(t.is_member) AS BIGINT) AS n_member,
           CAST(sum(CASE WHEN m.bloom_member = 1 AND t.is_member = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN m.bloom_member = 0 AND t.is_member = 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
           CAST(sum(CASE WHEN m.bloom_member = 1 AND t.is_member = 0
                         THEN 1 ELSE 0 END) * 1000000
                // NULLIF(sum(1 - t.is_member), 0) AS BIGINT) AS fp_ppm
    FROM mem m JOIN truth t USING (tok)
    """,
)
def bloom_filter_fp_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom filter as a certified relational sketch
    (ext/heavy_hitters.py::bloom_build/bloom_probe): build over src0's
    distinct tokens (1020 bits in 60-bit lanes, 3 md5 hashes, one
    bit_or aggregation), probe src1's distinct tokens, and measure the
    filter EXACTLY against ground truth — member/positive/false-
    positive counts and the realized fp rate in ppm, with the
    no-false-negatives guarantee certified as n_false_neg = 0 by the
    same hash-matched oracle that replays build and probe bit-for-bit.
    100 TB: the filter is ~17 rows however large the build side — the
    classic broadcast pre-join membership pre-filter."""
    from .ext.heavy_hitters import bloom_build, bloom_probe

    docs = spread(load_table(spark, sf_dir, "documents"))

    def toks(src):
        return (
            docs.where(F.col("source") == src)
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .distinct()
        )

    b, p = toks("src0"), toks("src1")
    filt = bloom_build(b, "tok")
    probed = bloom_probe(filt, p, "tok")
    truth = p.join(
        b.withColumn("is_member", F.lit(1)), "tok", "left"
    ).select("tok", F.coalesce("is_member", F.lit(0)).alias("is_member"))
    joined = probed.join(truth, "tok")
    n_build = b.agg(F.count(F.lit(1)).alias("nb"))
    return (
        joined.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probe"),
            F.sum("bloom_member").cast("bigint").alias("n_bloom_pos"),
            F.sum("is_member").cast("bigint").alias("n_member"),
            F.sum(
                F.when(
                    (F.col("bloom_member") == 1) & (F.col("is_member") == 0),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_pos"),
            F.sum(
                F.when(
                    (F.col("bloom_member") == 0) & (F.col("is_member") == 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_false_neg"),
            F.expr(
                "CAST(sum(CASE WHEN bloom_member = 1 AND is_member = 0 "
                "THEN 1 ELSE 0 END) * 1000000 "
                "div nullif(sum(1 - is_member), 0) AS BIGINT)"
            ).alias("fp_ppm"),
        )
        .crossJoin(F.broadcast(n_build))
        .select(
            F.col("nb").cast("bigint").alias("n_build"),
            "n_probe",
            "n_bloom_pos",
            "n_member",
            "n_false_pos",
            "n_false_neg",
            "fp_ppm",
        )
    )



@_register(
    "gopher_rules_docs",
    """
    WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    m AS (
        SELECT doc_id, source,
               len(w) AS n_words,
               CAST(length(array_to_string(w, '')) AS BIGINT) AS sum_len,
               len(list_filter(w, x -> regexp_matches(x, '\\p{L}')))
                   AS n_alpha,
               len(list_filter(w, x -> x LIKE '%#%' OR x LIKE '%...%'))
                   AS n_symbol
        FROM t
    )
    SELECT doc_id, source,
           CASE WHEN n_words BETWEEN 50 AND 100000 THEN 1 ELSE 0 END
               AS rule_word_count,
           CASE WHEN sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                THEN 1 ELSE 0 END AS rule_mean_word_len,
           CASE WHEN n_symbol * 10 <= n_words THEN 1 ELSE 0 END
               AS rule_symbol_ratio,
           CASE WHEN n_alpha * 10 >= n_words * 8 THEN 1 ELSE 0 END
               AS rule_alpha_words,
           CASE WHEN n_words BETWEEN 50 AND 100000
                 AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                 AND n_symbol * 10 <= n_words
                 AND n_alpha * 10 >= n_words * 8
                THEN 1 ELSE 0 END AS keep
    FROM m
    """,
)
def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveWeb quality rules (Rae et al. 2021, A1.1) as
    exact-integer relational predicates — the published rule set every
    LLM corpus pipeline starts from: word-count band [50, 100k], mean
    word length in [3, 10] (as the cross-multiply sum_len vs 3n/10n —
    no division), symbol-to-word ratio ≤ 0.1 (# or ellipsis), and
    ≥ 80% of words containing an alphabetic character. Per-rule flags
    plus the conjunctive keep decision, one scan, zero floats; the
    regex is Java∩RE2-portable so the oracle replays every rule
    bit-for-bit. (The paper's line-shape rules — bullets/ellipsis line
    ratios — need newline structure this corpus doesn't have; the
    text-shape signals live in doc_repetition_signals.)"""
    docs = spread(load_table(spark, sf_dir, "documents"))
    w = F.split("text", " ")
    m = docs.select(
        "doc_id",
        "source",
        F.size(w).cast("bigint").alias("n_words"),
        F.length(F.array_join(w, "")).cast("bigint").alias("sum_len"),
        F.size(
            F.filter(w, lambda x: x.rlike(r"\p{L}"))
        ).cast("bigint").alias("n_alpha"),
        F.size(
            F.filter(
                w,
                lambda x: x.contains("#") | x.contains("..."),
            )
        ).cast("bigint").alias("n_symbol"),
    )
    r_wc = F.col("n_words").between(50, 100000)
    r_mwl = (F.col("sum_len") >= 3 * F.col("n_words")) & (
        F.col("sum_len") <= 10 * F.col("n_words")
    )
    r_sym = F.col("n_symbol") * 10 <= F.col("n_words")
    r_alpha = F.col("n_alpha") * 10 >= F.col("n_words") * 8
    return m.select(
        "doc_id",
        "source",
        r_wc.cast("int").alias("rule_word_count"),
        r_mwl.cast("int").alias("rule_mean_word_len"),
        r_sym.cast("int").alias("rule_symbol_ratio"),
        r_alpha.cast("int").alias("rule_alpha_words"),
        (r_wc & r_mwl & r_sym & r_alpha).cast("int").alias("keep"),
    )


@_register(
    "rater_agreement_kappa",
    """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               list_filter(regexp_split_to_array(
                   regexp_replace(regexp_replace(lower(trim(text)),
                       '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'),
                   ' '), x -> x <> '') AS nt,
               CAST(length(text) - length(regexp_replace(
                        text, '[\\p{P}]', '', 'g'))
                    AS DOUBLE) / length(text) AS praw
        FROM documents WHERE length(text) > 0
    ),
    flags AS (
        SELECT doc_id,
               CASE WHEN len(w) BETWEEN 50 AND 100000
                     AND length(array_to_string(w, '')) >= 3 * len(w)
                     AND length(array_to_string(w, '')) <= 10 * len(w)
                     AND len(list_filter(w,
                             x -> x LIKE '%#%' OR x LIKE '%...%')) * 10
                         <= len(w)
                     AND len(list_filter(w,
                             x -> regexp_matches(x, '\\p{L}'))) * 10
                         >= len(w) * 8
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN round((least(len(nt) / 50.0, 1.0)
                        + (1.0 - least(praw * 5.0, 1.0))
                        + least((len(list_filter(nt,
                                   x -> x IN ('the','and','of','to','is')))
                                 / CAST(len(nt) AS DOUBLE)) * 10.0, 1.0))
                        / 3.0, 4) >= 0.5
                    THEN 1 ELSE 0 END AS b
        FROM t WHERE len(nt) > 0
    ),
    cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a * b) AS BIGINT) AS kk,
               CAST(sum(a * (1 - b)) AS BIGINT) AS ka,
               CAST(sum((1 - a) * b) AS BIGINT) AS kb,
               CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS dd
        FROM flags
    ),
    k AS (
        SELECT n, kk, ka, kb, dd,
               (CAST(kk + dd AS HUGEINT) * n
                - CAST(kk + ka AS HUGEINT) * (kk + kb)
                - CAST(kb + dd AS HUGEINT) * (ka + dd)) * 1000000
                   AS num,
               CAST(n AS HUGEINT) * n
                - CAST(kk + ka AS HUGEINT) * (kk + kb)
                - CAST(kb + dd AS HUGEINT) * (ka + dd) AS den
        FROM cells
    )
    SELECT n AS n_docs, kk AS both_keep, ka AS a_only_keep,
           kb AS b_only_keep, dd AS both_drop,
           CAST(CAST(kk + dd AS HUGEINT) * 1000000 // n AS BIGINT)
               AS po_ppm,
           CAST((CAST(kk + ka AS HUGEINT) * (kk + kb)
                 + CAST(kb + dd AS HUGEINT) * (ka + dd)) * 1000000
                // (CAST(n AS HUGEINT) * n) AS BIGINT) AS pe_ppm,
           CASE WHEN den <> 0
                THEN CAST((num - ((num % den + den) % den)) // den
                          AS BIGINT)
           END AS kappa_ppm
    FROM k
    """,
)
def rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa inter-rater agreement between the engine's two
    certified quality raters — the Gopher rule conjunction
    (gopher_rules_docs) and the composite quality-score threshold
    (quality_filter_docs) — the standard chance-corrected agreement
    statistic for labeling pipelines, computed entirely from the 2×2
    confusion cells so it is an exact integer ratio:

        κ = (po − pe) / (1 − pe)
          = (agree·n − ay·by − an·bn) / (n² − ay·by − an·bn)

    reported in floor ppm (NULL when pe = 1, i.e. both raters
    constant). Population = documents where both raters are defined
    (non-empty text, ≥1 normalized token). 100 TB: one scan, one
    4-cell global aggregate — partial aggregation does all the work;
    the kappa arithmetic runs on a single row."""
    docs = spread(load_table(spark, sf_dir, "documents")).where(
        F.length("text") > 0
    )
    w = F.split("text", " ")
    staged = docs.select(
        "doc_id",
        F.size(w).cast("bigint").alias("n_words"),
        F.length(F.array_join(w, "")).cast("bigint").alias("sum_len"),
        F.size(F.filter(w, lambda x: x.rlike(r"\p{L}")))
        .cast("bigint")
        .alias("n_alpha"),
        F.size(F.filter(w, lambda x: x.contains("#") | x.contains("...")))
        .cast("bigint")
        .alias("n_symbol"),
        quality_score(F.col("text")).alias("q"),
        token_count_ws(F.col("text")).alias("nt"),
    ).where(F.col("nt") > 0)
    a = (
        F.col("n_words").between(50, 100000)
        & (F.col("sum_len") >= 3 * F.col("n_words"))
        & (F.col("sum_len") <= 10 * F.col("n_words"))
        & (F.col("n_symbol") * 10 <= F.col("n_words"))
        & (F.col("n_alpha") * 10 >= F.col("n_words") * 8)
    ).cast("int")
    b = (F.col("q") >= 0.5).cast("int")
    cells = staged.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("bigint").alias("kk"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("bigint").alias("ka"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("bigint").alias("kb"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("bigint")
        .alias("dd"),
    )
    dec = "decimal(38,0)"
    nD = F.col("n").cast(dec)
    prod = (F.col("kk") + F.col("ka")).cast(dec) * (
        F.col("kk") + F.col("kb")
    ) + (F.col("kb") + F.col("dd")).cast(dec) * (F.col("ka") + F.col("dd"))
    agree = (F.col("kk") + F.col("dd")).cast(dec)
    den = nD * nD - prod
    return cells.select(
        F.col("n").alias("n_docs"),
        F.col("kk").alias("both_keep"),
        F.col("ka").alias("a_only_keep"),
        F.col("kb").alias("b_only_keep"),
        F.col("dd").alias("both_drop"),
        floor_div(agree * 1000000, nD).cast("bigint").alias("po_ppm"),
        floor_div(prod * 1000000, nD * nD).cast("bigint").alias("pe_ppm"),
        F.when(
            den != 0,
            floor_div((agree * nD - prod) * 1000000, den),
        )
        .cast("bigint")
        .alias("kappa_ppm"),
    )


_SQL_LATIN = "[A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}\\x{00F8}-\\x{024F}]"
_SQL_CYR = "[\\x{0400}-\\x{04FF}]"
_SQL_HAN = "[\\x{4E00}-\\x{9FFF}]"


@_register(
    "script_share_docs",
    f"""
    WITH m AS (
        SELECT doc_id, lang,
               CAST(length(regexp_replace(text, '[^\\p{{L}}]', '', 'g'))
                    AS BIGINT) AS n_letters,
               CAST(length(text) - length(regexp_replace(text,
                    '{_SQL_LATIN}', '', 'g')) AS BIGINT) AS n_latin,
               CAST(length(text) - length(regexp_replace(text,
                    '{_SQL_CYR}', '', 'g')) AS BIGINT) AS n_cyrillic,
               CAST(length(text) - length(regexp_replace(text,
                    '{_SQL_HAN}', '', 'g')) AS BIGINT) AS n_han
        FROM documents
    )
    SELECT doc_id, lang, n_letters, n_latin, n_cyrillic, n_han,
           CAST({_sql_halfup('n_latin * 1000000',
                             'CASE WHEN n_letters = 0 THEN 1 ELSE n_letters END')}
                AS BIGINT) * CASE WHEN n_letters = 0 THEN 0 ELSE 1 END
               AS latin_ppm,
           CASE WHEN n_latin >= n_cyrillic AND n_latin >= n_han
                     AND n_latin > 0 THEN 'latin'
                WHEN n_cyrillic >= n_han AND n_cyrillic > 0
                     THEN 'cyrillic'
                WHEN n_han > 0 THEN 'han'
                ELSE 'other' END AS dominant_script
    FROM m
    """,
)
def script_share_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SCRIPT shares (Latin / Cyrillic / Han letter counts
    out of all Unicode letters) + deterministic dominant-script label —
    the round-5 verdict's lang-ID signal: marker-word voting degrades
    silently on non-Latin corpora (a Russian or Chinese document hits
    zero markers of EVERY language), while the script histogram
    separates those scripts in one codegen'd regexp pass. Ranges use
    the Java∩RE2-portable ``\\x{{…}}`` spelling
    (functions/text.py::SCRIPT_RANGES — script NAMES diverge between
    the engines); tie-break precedence latin > cyrillic > han > other
    is explicit in the CASE. latin_ppm is exact half-up integer
    arithmetic; multilingual behavior is pinned with planted
    CJK/Cyrillic docs in tests/test_analytics.py."""
    from .functions.exact import floor_div, half_up_div
    from .functions.text import script_counts

    docs = spread(load_table(spark, sf_dir, "documents"))
    sc_ = script_counts(F.col("text"))
    m = docs.select(
        "doc_id",
        "lang",
        sc_["letters"].alias("n_letters"),
        sc_["latin"].alias("n_latin"),
        sc_["cyrillic"].alias("n_cyrillic"),
        sc_["han"].alias("n_han"),
    )
    dom = (
        F.when(
            (F.col("n_latin") >= F.col("n_cyrillic"))
            & (F.col("n_latin") >= F.col("n_han"))
            & (F.col("n_latin") > 0),
            F.lit("latin"),
        )
        .when(
            (F.col("n_cyrillic") >= F.col("n_han"))
            & (F.col("n_cyrillic") > 0),
            F.lit("cyrillic"),
        )
        .when(F.col("n_han") > 0, F.lit("han"))
        .otherwise(F.lit("other"))
    )
    return m.select(
        "doc_id",
        "lang",
        "n_letters",
        "n_latin",
        "n_cyrillic",
        "n_han",
        (
            half_up_div(
                F.col("n_latin") * F.lit(1000000),
                F.when(F.col("n_letters") == 0, F.lit(1)).otherwise(
                    F.col("n_letters")
                ),
            )
            * F.when(F.col("n_letters") == 0, F.lit(0)).otherwise(F.lit(1))
        ).cast("bigint").alias("latin_ppm"),
        dom.alias("dominant_script"),
    )


@_register(
    "frame_timeline_sample",
    """
    WITH frames AS (
        SELECT doc_id AS media_id, f.f AS frame_idx,
               ((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(f.f AS VARCHAR) || ':vts'), 1, 8) AS BIGINT)
                 % 5) + 1) * 20 AS delay_ms
        FROM documents,
             LATERAL (SELECT unnest(range(0, 2 + CAST(doc_id % 3 AS INT)))
                      AS f) f
    ),
    tl AS (
        SELECT media_id, frame_idx, delay_ms,
               COALESCE(sum(delay_ms) OVER (
                   PARTITION BY media_id ORDER BY frame_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS start_ms,
               sum(delay_ms) OVER (PARTITION BY media_id) AS total_ms
        FROM frames
    ),
    ticks AS (
        SELECT media_id, unnest(range(0, CAST(max(total_ms) AS BIGINT), 40))
                   AS ts
        FROM tl GROUP BY media_id
    ),
    vis AS (
        SELECT t.media_id, t.ts, max(f.start_ms) AS start_ms
        FROM ticks t
        JOIN tl f ON f.media_id = t.media_id AND f.start_ms <= t.ts
        GROUP BY 1, 2
    ),
    samp AS (
        SELECT v.media_id, v.ts, f.frame_idx
        FROM vis v
        JOIN tl f ON f.media_id = v.media_id AND f.start_ms = v.start_ms
    )
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(frame_idx) AS BIGINT) AS sum_frame_idx,
           CAST(max(ts) AS BIGINT) AS last_ts
    FROM samp GROUP BY 1
    """,
)
def frame_timeline_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video frame-sampling TIMELINE semantics, hash-certified
    relationally — the SQL-expressible half of what
    ext/multimodal.py::sample_frames_real does over real GIF decode
    (which is rows-only because binary payloads have no oracle): frame
    i is visible on the half-open [start_i, start_{i+1}); sampling
    instants run every 40 ms strictly below the total duration; the
    visible frame is the argmax start ≤ t. Frame delays are md5-derived
    so both engines build the identical synthetic timeline. 100 TB: the
    tick×frame assignment joins on media_id and filters start ≤ t —
    frames per clip are bounded (metadata-sized), so the join fans out
    per clip, never across clips."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("media_id")
    )
    frames = docs.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0), (F.col("media_id") % 3 + 1).cast("int")
            )
        ).alias("frame_idx"),
    ).select(
        "media_id",
        F.col("frame_idx").cast("bigint").alias("frame_idx"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("media_id").cast("string"),
                                F.col("frame_idx").cast("string"),
                                F.lit("vts"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 5
                + 1
            )
            * 20
        ).alias("delay_ms"),
    )
    from pyspark.sql import Window as W

    tl = frames.withColumn(
        "start_ms",
        F.coalesce(
            F.sum("delay_ms").over(
                W.partitionBy("media_id")
                .orderBy("frame_idx")
                .rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn(
        "total_ms", F.sum("delay_ms").over(W.partitionBy("media_id"))
    )
    ticks = (
        tl.groupBy("media_id")
        .agg(F.max("total_ms").alias("__t"))
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.col("__t") - 1,
                    F.lit(40).cast("bigint"),
                )
            ).alias("ts"),
        )
    )
    vis = (
        ticks.join(tl.select("media_id", "start_ms"), "media_id")
        .where(F.col("start_ms") <= F.col("ts"))
        .groupBy("media_id", "ts")
        .agg(F.max("start_ms").alias("start_ms"))
    )
    samp = vis.join(
        tl.select("media_id", "start_ms", "frame_idx"),
        ["media_id", "start_ms"],
    )
    return samp.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
        F.sum("frame_idx").cast("bigint").alias("sum_frame_idx"),
        F.max("ts").cast("bigint").alias("last_ts"),
    )



@_register(
    "bloom_prejoin_revenue",
    """
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT)
               AS qty_units
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY 1
    """,
)
def bloom_prejoin_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Bloom filter doing its actual 100 TB job: a ~100-row sketch
    of the SELECTIVE build side (urgent orders) pre-filters the probe
    side BEFORE the join, and because Bloom admits only false
    positives — which the exact join then eliminates — the result is
    IDENTICAL to the plain join. The oracle is that plain join, no
    bloom anywhere: the hash match certifies the pre-filter is
    semantically transparent. At scale this is the classic shuffle
    reducer: non-matching probe rows die at the scan instead of
    traveling through the join exchange (Spark's own runtime bloom
    does this adaptively — test_runtime_bloom_filter_join_pruning —
    this is the engine-level explicit form with a persistable,
    mergeable sketch).

    Round-5 rewiring (verdict item 3): membership is now the fully-lazy
    ``bloom_prefilter`` — the sketch rides as a 1-row broadcast lane
    map and the probe side's plan is Scan→Filter→Join, where round 4's
    ``bloom_probe`` route paid a fan-out union + per-key groupBy +
    distinct + semi-join (three key-sized exchanges) before the real
    join. The hash family is xxhash64 (string-free JVM arithmetic —
    the prune's certification doesn't pin the hash because the oracle
    is the plain join, exactly like MinHash's md5/xxhash64 split);
    measured ~2× faster than the relational probe at sf0.1. No
    spread(): the filter is cheap per row, and at 100 TB the scan has
    thousands of splits anyway."""
    from .ext.heavy_hitters import bloom_build, bloom_prefilter

    m_bits, kh = 60 * 512, 3
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, sf_dir, "lineitem")
    keys = orders.select(F.col("o_orderkey").alias("k")).distinct()
    filt = bloom_build(
        keys, "k", k_hashes=kh, m_bits=m_bits, hash_fn="xxhash64"
    )
    pruned = bloom_prefilter(
        li,
        F.col("l_orderkey"),
        filt,
        k_hashes=kh,
        m_bits=m_bits,
        hash_fn="xxhash64",
    )
    return (
        pruned.join(
            orders.select("o_orderkey"),
            pruned["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum(_units(F.col("l_quantity"), 2))
            .cast("bigint")
            .alias("qty_units"),
        )
    )


@_register(
    "record_linkage_customers",
    f"""
    WITH a AS (
        SELECT c_custkey AS a_key, c_name AS a_name,
               c_nationkey AS nat,
               {_sql_floordiv("CAST(round(c_acctbal * 100) AS BIGINT)", "10000")} AS a_band,
               c_mktsegment AS a_seg
        FROM customer WHERE c_custkey % 2 = 0
    ),
    b AS (
        SELECT c_custkey AS b_key,
               CASE WHEN c_custkey % 7 = 0 THEN c_name || '~'
                    ELSE c_name END AS b_name,
               c_nationkey AS nat,
               {_sql_floordiv("CAST(round(c_acctbal * 100) AS BIGINT)", "10000")}
                   + CASE WHEN c_custkey % 3 = 0 THEN 1 ELSE 0 END
                   AS b_band,
               CASE WHEN c_custkey % 5 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END AS b_seg
        FROM customer
    ),
    cand AS (
        SELECT a_key, b_key FROM a JOIN b USING (nat)
        WHERE {_sql_floordiv("a_band", "10")} = {_sql_floordiv("b_band", "10")}
        UNION
        SELECT a_key, b_key FROM a JOIN b USING (nat)
        WHERE a_seg = b_seg
    ),
    scored AS (
        SELECT c.a_key, c.b_key,
               CAST(CASE WHEN a.a_name = b.b_name THEN 24 ELSE -8 END
                  + CASE WHEN a.a_band = b.b_band THEN 6 ELSE -4 END
                  + CASE WHEN a.a_seg = b.b_seg THEN 5 ELSE -3 END
                 AS BIGINT) AS weight
        FROM cand c JOIN a USING (a_key) JOIN b USING (b_key)
    )
    SELECT a_key, b_key, weight
    FROM (SELECT *, row_number() OVER (PARTITION BY a_key
              ORDER BY weight DESC, b_key) AS rn
          FROM scored WHERE weight >= 15)
    WHERE rn = 1
    """,
)
def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage, Fellegi-Sunter model (JASA 1969)
    with multi-pass blocking (Hernández & Stolfo 1995): source A (clean
    even-key customers) is linked against source B (all customers with
    deterministic field corruptions — name tail for keys ≡0 mod 7,
    balance band bumped for ≡0 mod 3, segment lost for ≡0 mod 5).
    Candidate pairs come from TWO independent blocking passes
    ((nation, balance-kiloband) and (nation, segment) — multi-pass
    recovers pairs either single key would miss), are deduplicated,
    then scored by summed per-field integer log-odds weights
    (agree/disagree: name +24/-8, band +6/-4, segment +5/-3 — fixed
    centiban weights, the precomputed-m/u deployment shape); pairs at
    or above the decision threshold keep the best match per A record
    (weight desc, key asc). Balance bands use exact cents + floor_div
    so negative balances floor identically in both engines. 100 TB:
    the blocking keys are the quadratic dial (block sizes bounded ⇒
    candidate count linear in input); comparisons are pure JVM column
    expressions on the pair frame; the best-match window partitions by
    A key over block-bounded groups."""
    c = load_table(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    band = floor_div(cents, F.lit(10000).cast("bigint"))
    a = c.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("a_key"),
        F.col("c_name").alias("a_name"),
        F.col("c_nationkey").alias("nat"),
        band.alias("a_band"),
        F.col("c_mktsegment").alias("a_seg"),
    )
    b = c.select(
        F.col("c_custkey").alias("b_key"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.concat(F.col("c_name"), F.lit("~")),
        )
        .otherwise(F.col("c_name"))
        .alias("b_name"),
        F.col("c_nationkey").alias("nat"),
        (
            band
            + F.when(F.col("c_custkey") % 3 == 0, F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("b_band"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("b_seg"),
    )
    ten = F.lit(10).cast("bigint")
    p1 = (
        a.join(b, "nat")
        .where(floor_div(F.col("a_band"), ten) == floor_div(F.col("b_band"), ten))
        .select("a_key", "b_key")
    )
    p2 = (
        a.join(b, "nat")
        .where(F.col("a_seg") == F.col("b_seg"))
        .select("a_key", "b_key")
    )
    cand = p1.union(p2).distinct()
    sc = (
        cand.join(a.drop("nat"), "a_key")
        .join(b.drop("nat"), "b_key")
        .select(
            "a_key",
            "b_key",
            (
                F.when(F.col("a_name") == F.col("b_name"), 24).otherwise(-8)
                + F.when(F.col("a_band") == F.col("b_band"), 6).otherwise(-4)
                + F.when(F.col("a_seg") == F.col("b_seg"), 5).otherwise(-3)
            )
            .cast("bigint")
            .alias("weight"),
        )
        .where(F.col("weight") >= 15)
    )
    w = Window.partitionBy("a_key").orderBy(
        F.desc("weight"), F.col("b_key")
    )
    return (
        sc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("a_key", "b_key", "weight")
    )


@_register(
    "orc_roundtrip_agg",
    f"""
    SELECT o_orderpriority AS priority,
           count(*) AS n,
           {_sql_sum('o_totalprice')} AS revenue
    FROM orders
    WHERE o_orderkey % 3 = 0
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY 1
    """,
)
def orc_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC storage parity: a filtered orders slice is written as an ORC
    table PARTITIONED BY priority, read back with a partition predicate,
    and aggregated — the oracle computes the same aggregate straight from
    the parquet, so any loss or type drift across the ORC hop (timestamp
    precision, double round-trip, partition-value string encoding) fails
    the hash. The read-back plan must partition-prune: only the two
    selected priority directories are listed (asserted in
    tests/test_sinks_sources.py). 100 TB: ORC is the other columnar
    format a lake-adjacent engine must ingest; both its predicate
    pushdown and partition pruning ride the same DataSource V1 scan
    machinery as parquet, so every filter/projection guarantee carries
    over unchanged."""
    import tempfile

    from .planmode import is_plan_only

    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey") % 3 == 0
    )
    if is_plan_only():
        # plan-only callers must not trigger the eager ORC write; the
        # representative plan is the same aggregate over the parquet
        back = o.select(
            "o_orderkey",
            _units(F.col("o_totalprice"), 2).alias("price_units"),
            "o_orderpriority",
        ).where(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        return back.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum("price_units") / F.lit(100.0)).alias("revenue"),
        )
    out = tempfile.mkdtemp(prefix="orc_rt_") + "/orders_orc"
    (
        o.select(
            "o_orderkey",
            _units(F.col("o_totalprice"), 2).alias("price_units"),
            "o_orderpriority",
        )
        .write.mode("overwrite")
        .partitionBy("o_orderpriority")
        .orc(out)
    )
    back = spark.read.orc(out).where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    return back.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.sum("price_units") / F.lit(100.0)).alias("revenue"),
    )


@_register(
    "snapshot_dv_delete_agg",
    f"""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n,
           (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0) AS revenue
    FROM orders
    WHERE ((o_orderkey % 3 = 0 AND o_custkey % 7 <> 0)
           OR o_orderkey % 3 = 1)
      AND o_orderkey % 10 <> 5
    GROUP BY 1
    """,
)
def snapshot_dv_delete_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector DELETE certified end to end (snapshots.py::
    snapshot_delete_dv — the Delta merge-on-read delete): an orders
    slice is committed to a snapshot table, rows are deleted by
    predicate WITHOUT rewriting any data file (positions recorded in a
    parquet sidecar, applied at read as a broadcast anti-join on
    ``_metadata.row_index``), a second slice is appended (the commit
    must carry the DVs forward), a second delete consolidates into the
    live DV set, and the final read aggregates. The oracle computes the
    same aggregate straight from the parquet with the equivalent WHERE
    — a hash match certifies the full lifecycle: delete, carry-on-
    append, consolidation, DV-applied scan. 100 TB: the delete costs
    O(deleted rows) sidecar + one metadata commit instead of rewriting
    the touched gigabytes; reads stay shuffle-free (DV side broadcast);
    physical reclamation is the separate snapshot_purge_dv, which
    rewrites dirty files only."""
    import tempfile

    from .planmode import is_plan_only
    from .snapshots import (
        snapshot_delete_dv,
        snapshot_read,
        snapshot_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        _units(F.col("o_totalprice"), 2).alias("price_units"),
    )

    def final_agg(t: DataFrame) -> DataFrame:
        return t.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum("price_units") / F.lit(100.0)).alias("revenue"),
        )

    if is_plan_only():
        # plan-only callers must not run the eager table build; the
        # representative plan is the equivalent filter over the parquet
        live = o.where(
            (
                ((F.col("o_orderkey") % 3 == 0)
                 & (F.col("o_custkey") % 7 != 0))
                | (F.col("o_orderkey") % 3 == 1)
            )
            & (F.col("o_orderkey") % 10 != 5)
        )
        return final_agg(live)

    path = tempfile.mkdtemp(prefix="snap_dv_q_") + "/t"
    snapshot_write(o.where(F.col("o_orderkey") % 3 == 0).repartition(4), path)
    snapshot_delete_dv(spark, path, "o_custkey % 7 = 0")
    # append AFTER the delete: the commit must carry the DVs, and the
    # appended slice is untouched by the first predicate
    snapshot_write(o.where(F.col("o_orderkey") % 3 == 1).repartition(2), path)
    snapshot_delete_dv(spark, path, "o_orderkey % 10 = 5")
    return final_agg(snapshot_read(spark, path))


@_register(
    "snapshot_bloom_lookup",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders
    WHERE o_orderkey IN (1, 2, 3, 5, 7, 11, 101, 1001)
    """,
)
def snapshot_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file Bloom point-lookup file skipping certified end to end
    (snapshots.py::snapshot_lookup): orders are committed to a snapshot
    table HASH-distributed on the key — deliberately unclustered, so
    every file's [min, max] spans the whole domain and range stats
    cannot prune — with ``bloom_cols`` recording 17 bigint Bloom lanes
    per file in the manifest. The IN-list lookup then probes the
    manifest driver-side (k md5s per file × value, no Spark job for
    pruning), opens only admitted files, and applies the exact
    predicate; an extra absent probe key (10⁹) exercises the
    prune-to-nothing path without changing the result. Oracle = the
    plain IN-list over the parquet, so the hash match certifies no
    false negatives through the whole chain (write-side lane build,
    manifest round-trip, driver-side md5 probe replication, pruned
    read). 100 TB: the Delta/Iceberg bloom-index analogue — point
    lookups on an unclustered key touch O(matching files), not the
    table."""
    import tempfile

    from .planmode import is_plan_only
    from .snapshots import snapshot_lookup, snapshot_write

    probes = [1, 2, 3, 5, 7, 11, 101, 1001, 10**9]
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    if is_plan_only():
        return o.where(F.col("o_orderkey").isin(probes))
    path = tempfile.mkdtemp(prefix="snap_bloom_q_") + "/t"
    # ~10 bits per key per file (the parquet bloom sizing rule):
    # sf0.1 = 150k keys / 64 files ≈ 2.3k keys/file -> 24k bits keeps
    # the per-file FP rate ~1%, so the lookup genuinely prunes at
    # every gate SF instead of saturating on the biggest one
    snapshot_write(
        o.repartition(64, "o_orderkey"),
        path,
        bloom_cols=["o_orderkey"],
        bloom_bits=24000,
    )
    return snapshot_lookup(spark, path, "o_orderkey", probes)


@_register(
    "stream_dv_deletes",
    f"""
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n,
           (CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
            / 100.0) AS revenue
    FROM orders
    WHERE o_custkey % 7 <> 0 AND o_orderkey % 10 <> 5
    GROUP BY 1
    """,
)
def stream_dv_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING right-to-be-forgotten: delete-key batches land as json
    micro-batches and a real Structured Streaming query folds each one
    into the snapshot table through ``snapshot_delete_dv(keys=...)`` —
    the key list semi-joins the scan (never a driver-side IN-list), the
    commit is metadata-only, and exactly-once needs NO extra ledger:
    replaying a delete batch consolidates to the identical DV set and
    no-ops (idempotence is structural, unlike the matview/CMS sinks'
    batch-id ledgers). Batch 1 deletes customers ≡0 (mod 7), batch 2
    orders ≡5 (mod 10) — overlapping rows exercise consolidation. The
    oracle recomputes the final state from the parquet with the
    equivalent WHERE, so the hash certifies the whole streamed fold.
    100 TB: each delete batch costs one pushdown scan + an O(deleted)
    sidecar; no data file is ever rewritten on the delete path."""
    import glob
    import os
    import tempfile

    from .planmode import is_plan_only
    from .snapshots import (
        snapshot_delete_dv,
        snapshot_read,
        snapshot_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        _units(F.col("o_totalprice"), 2).alias("price_units"),
    )

    def final_agg(t: DataFrame) -> DataFrame:
        return t.groupBy(
            F.col("o_orderpriority").alias("priority")
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.sum("price_units") / F.lit(100.0)).alias("revenue"),
        )

    if is_plan_only():
        return final_agg(
            o.where(
                (F.col("o_custkey") % 7 != 0)
                & (F.col("o_orderkey") % 10 != 5)
            )
        )

    tmp = tempfile.mkdtemp(prefix="sdv_q_")
    landing, table, ckpt = f"{tmp}/in", f"{tmp}/t", f"{tmp}/ckpt"
    os.makedirs(landing)
    snapshot_write(o.repartition(4), table)

    b1 = o.where(F.col("o_custkey") % 7 == 0).select(
        F.col("o_orderkey").alias("k")
    )
    b2 = o.where(F.col("o_orderkey") % 10 == 5).select(
        F.col("o_orderkey").alias("k")
    )
    for i, b in enumerate([b1, b2]):
        d = f"{tmp}/stage{i}"
        b.coalesce(1).write.json(d)
        for j, part in enumerate(sorted(glob.glob(f"{d}/part-*.json"))):
            os.rename(part, f"{landing}/b{i}_{j:04d}.json")

    def commit(batch: DataFrame, batch_id: int) -> None:
        snapshot_delete_dv(
            spark,
            table,
            keys=batch.select(F.col("k").alias("o_orderkey")),
            key_col="o_orderkey",
        )

    q = (
        spark.readStream.schema("k LONG")
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .writeStream.foreachBatch(commit)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError("stream_dv_deletes did not drain")
    return final_agg(snapshot_read(spark, table))


@_register(
    "blocklist_phrase_filter",
    f"""
    WITH toks AS (
        SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents
    ),
    g2 AS (
        SELECT t[p + 1] || ' ' || t[p + 2] AS g, count(*) AS c
        FROM toks, unnest(range(0, greatest(len(t) - 1, 0))) AS u(p)
        GROUP BY 1
    ),
    g3 AS (
        SELECT t[p + 1] || ' ' || t[p + 2] || ' ' || t[p + 3] AS g,
               count(*) AS c
        FROM toks, unnest(range(0, greatest(len(t) - 2, 0))) AS u(p)
        GROUP BY 1
    ),
    phrases AS (
        SELECT g AS pid, 2 AS plen
        FROM (SELECT g FROM g2 ORDER BY c DESC, g ASC LIMIT 3)
        UNION ALL
        SELECT g AS pid, 3 AS plen
        FROM (SELECT g FROM g3 ORDER BY c DESC, g ASC LIMIT 2)
    ),
    terms AS (
        SELECT pid, plen,
               CAST(generate_subscripts(ts, 1) AS BIGINT) - 1 AS off,
               substr(md5(unnest(ts)), 1, 16) AS th
        FROM (SELECT pid, plen, string_split(pid, ' ') AS ts
              FROM phrases)
    ),
    postings AS (
        SELECT doc_id,
               CAST(generate_subscripts(t, 1) AS BIGINT) - 1 AS pos,
               substr(md5(unnest(t)), 1, 16) AS th
        FROM toks
    ),
    cand AS (
        SELECT p.doc_id, tm.pid, tm.plen, p.pos - tm.off AS pos0, tm.off
        FROM postings p JOIN terms tm USING (th)
        WHERE p.pos - tm.off >= 0
    ),
    matches AS (
        SELECT doc_id, pid, pos0
        FROM cand
        GROUP BY doc_id, pid, plen, pos0
        HAVING count(DISTINCT off) = plen
    ),
    per AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
               CAST(count(DISTINCT pid) AS BIGINT) AS n_phrases
        FROM matches GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(per.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(per.n_phrases, 0) AS BIGINT) AS n_phrases,
           CASE WHEN per.doc_id IS NULL THEN 1 ELSE 0 END AS keep
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
)
def blocklist_phrase_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary/blocklist phrase filtering — the curation stage that
    drops documents containing any phrase from a blocklist (NSFW terms,
    boilerplate banners, contamination markers), run as ONE relational
    pass over ALL phrases at once (ext/search.py::dictionary_match —
    the Aho-Corasick workload as a broadcast term join + anchor
    count). The blocklist here is data-derived so the oracle can
    replay it: the corpus's top-3 bigrams and top-2 trigrams by
    frequency (ties by text — a total order). Per document: match
    occurrences, distinct phrases hit, and the keep flag. The twin
    replays derivation AND matching, so the hash certifies the whole
    chain. 100 TB: candidates are bounded by dictionary-TERM
    occurrences, not corpus size; one equi-join on 16-hex keys; text
    never shuffles; a real deployment swaps the derived table for a
    broadcast blocklist file with zero plan changes."""
    from .ext.search import dictionary_match
    from .functions.text import tokens as _tokens

    docs = spread(load_table(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", _tokens(F.col("text")).alias("t"))

    def top_grams(n: int, k: int) -> DataFrame:
        starts = F.when(
            F.size("t") >= n, F.sequence(F.lit(1), F.size("t") - F.lit(n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return (
            toks.select(
                F.explode(
                    F.transform(
                        starts,
                        lambda i: F.array_join(F.slice("t", i, n), " "),
                    )
                ).alias("g")
            )
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("c"))
            .orderBy(F.col("c").desc(), F.col("g").asc())
            .limit(k)
            .select("g", F.lit(n).alias("plen"))
        )

    phrases = top_grams(2, 3).unionByName(top_grams(3, 2))
    terms = phrases.select(
        F.col("g").alias("pid"),
        F.col("plen"),
        F.posexplode(F.split("g", " ")).alias("off", "term"),
    ).select(
        "pid",
        "plen",
        F.col("off").cast("bigint").alias("off"),
        F.substring(F.md5("term"), 1, 16).alias("th"),
    )
    postings = toks.select(
        "doc_id", F.posexplode("t").alias("pos", "tok")
    ).select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.substring(F.md5("tok"), 1, 16).alias("th"),
    )
    matches = dictionary_match(postings, terms)
    per = matches.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
        F.count_distinct("pid").cast("bigint").alias("n_phrases"),
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.coalesce("n_phrases", F.lit(0))
            .cast("bigint")
            .alias("n_phrases"),
            F.when(F.col("n_hits").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
    )


@_register(
    "wordpiece_encode_stats",
    f"""
    WITH RECURSIVE srcw AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT source,
                     unnest(list_filter(string_split_regex(text, '\\s+'),
                                        x -> x <> '')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    wordtab AS (SELECT w, CAST(sum(f) AS BIGINT) AS f FROM srcw GROUP BY 1),
    pos1 AS (SELECT w, f, unnest(range(1, length(w) + 1)) AS p
             FROM wordtab),
    lens AS (SELECT w, f, p, unnest([1, 2, 3]) AS l FROM pos1),
    subs AS (SELECT substr(w, CAST(p AS INTEGER), CAST(l AS INTEGER))
                        AS piece,
                    CAST(l AS BIGINT) AS plen,
                    CAST(sum(f) AS BIGINT) AS c
             FROM lens WHERE p + l - 1 <= length(w) GROUP BY 1, 2),
    vtop AS (SELECT piece, plen FROM subs WHERE plen > 1
             ORDER BY c DESC, piece ASC LIMIT 24),
    vocab AS (SELECT piece, plen FROM subs WHERE plen = 1
              UNION ALL SELECT piece, plen FROM vtop),
    step(w, rem, i, piece) AS (
        SELECT w, w AS rem, CAST(-1 AS BIGINT) AS i,
               CAST(NULL AS VARCHAR) AS piece
        FROM wordtab
        UNION ALL
        SELECT s.w,
               CASE WHEN coalesce(v3.piece, v2.piece, v1.piece) IS NULL
                    THEN ''
                    ELSE substr(s.rem,
                        length(coalesce(v3.piece, v2.piece, v1.piece)) + 1)
               END,
               s.i + 1,
               coalesce(v3.piece, v2.piece, v1.piece, '[UNK]')
        FROM step s
        LEFT JOIN vocab v3
            ON v3.plen = 3 AND v3.piece = substr(s.rem, 1, 3)
        LEFT JOIN vocab v2
            ON v2.plen = 2 AND v2.piece = substr(s.rem, 1, 2)
        LEFT JOIN vocab v1
            ON v1.plen = 1 AND v1.piece = substr(s.rem, 1, 1)
        WHERE s.rem <> ''
    ),
    em0 AS (SELECT w, i, piece,
                   CASE WHEN i = 0 THEN piece
                        ELSE '##' || piece END AS dp
            FROM step WHERE i >= 0),
    unkw AS (SELECT DISTINCT w FROM em0 WHERE piece = '[UNK]'),
    em AS (SELECT * FROM em0 WHERE w NOT IN (SELECT w FROM unkw)
           UNION ALL
           SELECT w, CAST(0 AS BIGINT), '[UNK]', '[UNK]' FROM unkw),
    encw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_pieces,
                    max(CASE WHEN piece = '[UNK]' THEN 1 ELSE 0 END)
                        AS has_unk
             FROM em GROUP BY 1),
    per_src AS (
        SELECT s.source,
               CAST(sum(s.f) AS BIGINT) AS n_words,
               CAST(sum(s.f * e.n_pieces) AS BIGINT) AS n_pieces,
               CAST(sum(s.f * e.has_unk) AS BIGINT) AS unk_words
        FROM srcw s JOIN encw e USING (w) GROUP BY 1),
    dpc AS (SELECT s.source,
                   CAST(count(DISTINCT e.dp) AS BIGINT) AS distinct_pieces
            FROM (SELECT DISTINCT source, w FROM srcw) s
            JOIN em e USING (w) GROUP BY 1)
    SELECT p.source, p.n_words, p.n_pieces,
           CAST({_sql_halfup('p.n_pieces * 1000000', 'p.n_words')}
               AS BIGINT) AS avg_pieces_ppm,
           p.unk_words, d.distinct_pieces
    FROM per_src p JOIN dpc d USING (source)
    """,
)
def wordpiece_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece / MaxMatch subword tokenization (Wu et al. 2016 §4.1;
    Song et al. 2021): a corpus-derived subword vocabulary (all single
    chars + top-24 weighted substrings) greedily longest-match encodes
    the DISTINCT word table, and per-source fertility statistics roll
    up through the word counts — the numbers a tokenizer rollout is
    judged by (pieces per word, [UNK] rate, piece inventory in use).
    The oracle replays vocabulary derivation AND the greedy segmentation
    (a recursive CTE with the same three per-length prefix joins), so
    the hash certifies every emitted piece. 100 TB: the encoder runs on
    the vocabulary-sized distinct-word frame (iterations ≤ longest word,
    broadcast vocab, pure equi-joins), and the corpus-sized work is one
    broadcast join of (word → pieces) — see ext/tokenize.py."""
    from .ext.tokenize import wordpiece_doc_stats

    docs = spread(load_table(spark, sf_dir, "documents"))
    return wordpiece_doc_stats(docs)


def _unigram_dp_sql(vocab_cte: str, name: str) -> str:
    """Recursive Viterbi-DP CTE pair for the unigram twin: a frontier-
    shift recursion ``{name}_step`` over ``wordtab`` scored by the
    ``{vocab_cte}`` (piece, plen, score) table, and ``{name}(w, np,
    lens)`` with the winning piece-count and length path. The candidate
    comparison is the same encoded-string least() as
    ext/tokenize.py::unigram_viterbi_encode — np zero-padded to 4, then
    (10^14 − sum) zero-padded to 15, then the path — so the exact tuple
    order (pieces ASC, score sum DESC, path ASC) is one VARCHAR min in
    both engines."""
    bound = 10**14

    def cand(slot: int, ln: int) -> str:
        return (
            f"CASE WHEN s.d{slot}np IS NOT NULL AND v{ln}.score IS NOT "
            f"NULL THEN lpad(CAST(s.d{slot}np + 1 AS VARCHAR), 4, '0') || "
            f"lpad(CAST({bound} - (s.d{slot}sm + v{ln}.score) AS VARCHAR),"
            f" 15, '0') || s.d{slot}ls || '{ln},' END"
        )

    def pick(e1: str, e2: str, e3: str, null_t: str) -> str:
        return (
            f"CASE WHEN u.best IS NULL THEN CAST(NULL AS {null_t}) "
            f"WHEN u.best = u.c1 THEN {e1} "
            f"WHEN u.best = u.c2 THEN {e2} ELSE {e3} END"
        )

    return f"""
    {name}_step(w, j, d0np, d0sm, d0ls, d1np, d1sm, d1ls,
                d2np, d2sm, d2ls) AS (
        SELECT w, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT), '',
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS VARCHAR),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
               CAST(NULL AS VARCHAR)
        FROM wordtab
        UNION ALL
        SELECT u.w, u.j + 1,
               {pick('u.d0np + 1', 'u.d1np + 1', 'u.d2np + 1', 'BIGINT')},
               {pick('u.d0sm + u.sc1', 'u.d1sm + u.sc2',
                     'u.d2sm + u.sc3', 'BIGINT')},
               {pick("u.d0ls || '1,'", "u.d1ls || '2,'",
                     "u.d2ls || '3,'", 'VARCHAR')},
               u.d0np, u.d0sm, u.d0ls,
               u.d1np, u.d1sm, u.d1ls
        FROM (
            SELECT t.*, least(t.c1, t.c2, t.c3) AS best
            FROM (
                SELECT s.w, s.j, s.d0np, s.d0sm, s.d0ls,
                       s.d1np, s.d1sm, s.d1ls, s.d2np, s.d2sm, s.d2ls,
                       v1.score AS sc1, v2.score AS sc2, v3.score AS sc3,
                       {cand(0, 1)} AS c1,
                       {cand(1, 2)} AS c2,
                       {cand(2, 3)} AS c3
                FROM {name}_step s
                LEFT JOIN {vocab_cte} v1
                    ON v1.plen = 1 AND v1.piece = substr(s.w, s.j + 1, 1)
                LEFT JOIN {vocab_cte} v2
                    ON v2.plen = 2 AND v2.piece = substr(s.w, s.j, 2)
                LEFT JOIN {vocab_cte} v3
                    ON v3.plen = 3 AND v3.piece = substr(s.w, s.j - 1, 3)
                WHERE s.j < length(s.w)
            ) t
        ) u
    ),
    {name} AS (
        SELECT w, d0np AS np, d0ls AS lens
        FROM {name}_step WHERE j = length(w)
    )"""


def _unigram_pieces_sql(dp: str, name: str) -> str:
    """CTE ``{name}(w, i, piece)`` decoding the length path of ``{dp}``
    positionally (one row per emitted piece occurrence, i 1-based)."""
    return f"""
    {name} AS (
        SELECT w, CAST(i AS BIGINT) AS i,
               substr(w,
                   CAST(1 + coalesce(list_sum(list_transform(
                       la[1:i-1], y -> CAST(y AS BIGINT))), 0) AS INTEGER),
                   CAST(l AS INTEGER)) AS piece
        FROM (SELECT w, la,
                     CAST(generate_subscripts(la, 1) AS INTEGER) AS i,
                     unnest(la) AS l
              FROM (SELECT w,
                           list_filter(string_split(lens, ','),
                                       z -> z <> '') AS la
                    FROM {dp} WHERE lens IS NOT NULL))
    )"""


@_register(
    "unigram_encode_stats",
    f"""
    WITH RECURSIVE srcw AS (
        SELECT source, w, CAST(count(*) AS BIGINT) AS f
        FROM (SELECT source,
                     unnest(list_filter(string_split_regex(text, '\\s+'),
                                        x -> x <> '')) AS w
              FROM documents)
        GROUP BY 1, 2
    ),
    wordtab AS (SELECT w, CAST(sum(f) AS BIGINT) AS f FROM srcw GROUP BY 1),
    pos1 AS (SELECT w, f, unnest(range(1, length(w) + 1)) AS p
             FROM wordtab),
    lens0 AS (SELECT w, f, p, unnest([1, 2, 3]) AS l FROM pos1),
    subs AS (SELECT substr(w, CAST(p AS INTEGER), CAST(l AS INTEGER))
                        AS piece,
                    CAST(l AS BIGINT) AS plen,
                    CAST(sum(f) AS BIGINT) AS score
             FROM lens0 WHERE p + l - 1 <= length(w) GROUP BY 1, 2),
    svtop AS (SELECT piece, plen, score FROM subs WHERE plen > 1
              ORDER BY score DESC, piece ASC LIMIT 32),
    seedvocab AS (SELECT piece, plen, score FROM subs WHERE plen = 1
                  UNION ALL SELECT piece, plen, score FROM svtop),
    {_unigram_dp_sql('seedvocab', 'dp0')},
    {_unigram_pieces_sql('dp0', 'p0')},
    usage AS (SELECT piece, CAST(sum(f) AS BIGINT) AS u
              FROM p0 JOIN wordtab USING (w) GROUP BY 1),
    tvtop AS (SELECT s.piece, s.plen, u.u AS score
              FROM seedvocab s JOIN usage u USING (piece)
              WHERE s.plen > 1 AND u.u > 0
              ORDER BY u.u DESC, s.piece ASC LIMIT 16),
    tvocab AS (SELECT s.piece, s.plen,
                      CAST(coalesce(u.u, 0) AS BIGINT) AS score
               FROM seedvocab s LEFT JOIN usage u USING (piece)
               WHERE s.plen = 1
               UNION ALL SELECT piece, plen, score FROM tvtop),
    {_unigram_dp_sql('tvocab', 'dp1')},
    {_unigram_pieces_sql('dp1', 'p1')},
    em AS (SELECT w, piece FROM p1
           UNION ALL
           SELECT w, '[UNK]' AS piece FROM dp1 WHERE lens IS NULL),
    encw AS (SELECT w, CAST(count(*) AS BIGINT) AS n_pieces,
                    max(CASE WHEN piece = '[UNK]' THEN 1 ELSE 0 END)
                        AS has_unk
             FROM em GROUP BY 1),
    per_src AS (
        SELECT s.source,
               CAST(sum(s.f) AS BIGINT) AS n_words,
               CAST(sum(s.f * e.n_pieces) AS BIGINT) AS n_pieces,
               CAST(sum(s.f * e.has_unk) AS BIGINT) AS unk_words
        FROM srcw s JOIN encw e USING (w) GROUP BY 1),
    dpc AS (SELECT s.source,
                   CAST(count(DISTINCT e.piece) AS BIGINT)
                       AS distinct_pieces
            FROM (SELECT DISTINCT source, w FROM srcw) s
            JOIN em e USING (w) GROUP BY 1)
    SELECT p.source, p.n_words, p.n_pieces,
           CAST({_sql_halfup('p.n_pieces * 1000000', 'p.n_words')}
               AS BIGINT) AS avg_pieces_ppm,
           p.unk_words, d.distinct_pieces
    FROM per_src p JOIN dpc d USING (source)
    """,
)
def unigram_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece) subword tokenization (Kudo 2018 §3.2)
    — the third mainstream tokenizer family, completing the trio next
    to ⊕ bpe_encode_stats and ⊕ wordpiece_encode_stats: a Viterbi-EM
    trained unigram vocabulary (seed substrings → best-segmentation
    usage counts → prune to single chars + top-16 by usage) segments
    the DISTINCT word table by exact-integer Viterbi search (fewest
    pieces first — what the unigram prior prefers — then highest summed
    piece score, then a deterministic path tie-break; the tuple order
    is one encoded-string least(), so no float enters training OR
    inference), and per-source fertility statistics roll up through the
    word counts. The oracle replays seeding, BOTH Viterbi DP loops
    (frontier-shift recursive CTEs), the hard-EM usage re-estimation,
    the prune, and the rollup — the hash certifies every piece of
    training and inference. 100 TB: both DP loops run on the
    vocabulary-sized distinct-word frame (3-slot frontier, one
    character position per round, broadcast vocab equi-joins,
    iterations = longest word); the corpus-sized work is the word-count
    groupBy and one broadcast join — see ext/tokenize.py."""
    from .ext.tokenize import unigram_doc_stats

    docs = spread(load_table(spark, sf_dir, "documents"))
    return unigram_doc_stats(docs)


@_register("audio_codec_survey")  # rows-only: binary payload ops
def audio_codec_survey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every telephony audio codec exercised end-to-end from the
    registry: per document a digest-derived int16 waveform ships as
    doc_id mod 4 → PCM WAV / G.711 µ-law .au / G.711 A-law .au /
    IMA ADPCM WAV (format 0x11), decodes through the Arrow
    mapInPandas feature pipeline, and rolls up per (source, codec):
    clip count, total duration, and summed 4-dp RMS. Rows-only check
    (binary payloads have no SQL twin); each codec's bit-level
    contract — A-law's 256 fixed points, IMA's block-predictor
    semantics — is pinned in tests/test_multimodal.py. 100 TB: the
    payload column prunes away for non-audio queries; decode is
    Arrow-batched, never row-at-a-time Python in the JVM path."""
    import hashlib
    from collections.abc import Iterator

    import pandas as pd

    from .ext.multimodal import MEDIA_SCHEMA, extract_features_real

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )

    def make_media(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from .ext.multimodal import (
            encode_au_alaw,
            encode_au_ulaw,
            encode_wav_ima,
            encode_wav_pcm16,
        )

        for pdf in batches:
            rows = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                digest = hashlib.md5((text or "").encode()).digest()
                n = 600 + digest[0]
                raw = (digest * (n // 8 + 1))[: n * 2]
                base = np.frombuffer(raw, dtype="<i2").astype(np.int64)
                env = (
                    np.frombuffer(digest, dtype=np.uint8)[
                        (np.arange(n) * 64 // n) % 16
                    ].astype(np.int64)
                    % 8
                    + 1
                )
                samples = ((base * env) // 8).astype(np.int16)
                m = int(did) % 4
                if m == 0:
                    payload = encode_wav_pcm16(samples, 8000)
                    mime = "audio/wav"
                elif m == 1:
                    payload = encode_au_ulaw(samples, 8000)
                    mime = "audio/basic"
                elif m == 2:
                    payload = encode_au_alaw(samples, 8000)
                    mime = "audio/x-alaw-basic"
                else:
                    payload = encode_wav_ima(samples, 8000, 256)
                    mime = "audio/x-wav-ima-adpcm"
                rows.append(
                    (int(did), "audio", payload, mime, None, None,
                     int(n * 1000 // 8000))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "mime",
                    "width", "height", "duration_ms",
                ],
            )

    media = docs.mapInPandas(make_media, schema=MEDIA_SCHEMA)
    feats = extract_features_real(media)
    # dimension branch: a plain pruned scan (doc_id, source) — no spread,
    # no recompute of the synth pipeline
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        "source",
        (F.col("doc_id") % 4).alias("codec"),
    )
    return (
        feats.join(src, "media_id")
        .groupBy("source", "codec")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clips"),
            F.sum("duration_ms").cast("bigint").alias("total_ms"),
            F.sum(
                F.round(F.col("rms").cast("double") * 10000).cast("bigint")
            ).alias("rms_e4_sum"),
        )
    )


@_register(
    "ann_recall_report",
    f"""
    WITH {_IVFPQ_RES_CTES},
    arr_sys AS (
        SELECT query_id, vec_id, srank FROM (
            SELECT query_id, vec_id, row_number() OVER (
                PARTITION BY query_id ORDER BY adc_dist ASC, vec_id ASC
            ) AS srank
            FROM sc
        ) WHERE srank <= 10
    ),
    arr_q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id < 5
    ),
    arr_bf AS (
        SELECT a.query_id, e.vec_id,
               round(
                 list_sum(list_transform(range(1, 65),
                     i -> CAST(e.embedding[i] AS DOUBLE)
                        * CAST(a.qv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(e.embedding[i] AS DOUBLE)
                        * CAST(e.embedding[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                     i -> CAST(a.qv[i] AS DOUBLE)
                        * CAST(a.qv[i] AS DOUBLE)))))
               , 6) AS cosine
        FROM embeddings e CROSS JOIN arr_q a
        WHERE e.vec_id <> a.query_id
    ),
    arr_gt AS (
        SELECT query_id, vec_id, grank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
            ) AS grank
            FROM arr_bf
        ) WHERE grank <= 10
    ),
    arr_i AS (
        SELECT query_id, CAST(count(*) AS BIGINT) AS recall10
        FROM arr_gt JOIN arr_sys USING (query_id, vec_id)
        GROUP BY 1
    ),
    arr_nn AS (SELECT query_id, vec_id FROM arr_gt WHERE grank = 1),
    arr_rr AS (
        SELECT n.query_id,
               CAST(coalesce(max(1000000 // s.srank), 0) AS BIGINT)
                   AS rr_milli
        FROM arr_nn n
        LEFT JOIN arr_sys s
            ON s.query_id = n.query_id AND s.vec_id = n.vec_id
        GROUP BY 1
    )
    SELECT a.query_id,
           CAST(coalesce(i.recall10, 0) AS BIGINT) AS recall10,
           r.rr_milli
    FROM arr_q a
    LEFT JOIN arr_i i USING (query_id)
    JOIN arr_rr r USING (query_id)
    """,
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval EVALUATION as a first-class pipeline op: per query,
    recall@10 of the one-stage residual-IVFPQ ADC ranking against the
    exact-cosine ground truth, plus the milli reciprocal rank of the
    TRUE nearest neighbor in the ANN ranking (10⁶ div rank, 0 if the
    ANN missed it entirely) — the two numbers an index rollout is
    gated on. Both rankings replay digit-for-digit in the oracle
    (shared `_IVFPQ_RES_CTES` + the brute-force twin), so the metric
    itself — not just the rankings — is hash-certified; the qualitative
    floor (two-stage re-rank ≥ one-stage) is pinned in
    tests/test_similarity.py. 100 TB: ground truth at full scale comes
    from a SAMPLED query set exactly like this one (eval cost is
    |queries|·corpus brute force — the 100×-safe version fixes
    |queries|, not the corpus); the metric joins are |queries|·10-row
    frames."""
    from .planmode import checkpoint

    # both rankings are |queries|·10-row frames consumed by MULTIPLE
    # metric joins below (gt three times, sysr twice) — materialize each
    # once instead of re-running the brute-force scan / the residual
    # IVFPQ encode per consumer (optimization round 8; the same
    # multi-consumer rule as jaccard_verify's candidate checkpoint)
    gt = checkpoint(
        ann_cosine_topk(spark, sf_dir).select(
            "query_id", "vec_id", F.col("rank").alias("grank")
        )
    )
    sysr = checkpoint(
        ivfpq_residual_topk(spark, sf_dir).select(
            "query_id", "vec_id", F.col("rank").alias("srank")
        )
    )
    inter = (
        gt.join(sysr, ["query_id", "vec_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("recall10"))
    )
    nn = gt.where(F.col("grank") == 1).select("query_id", "vec_id")
    rr = (
        nn.join(sysr, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.coalesce(
                F.max(F.expr("1000000 div srank")), F.lit(0)
            )
            .cast("bigint")
            .alias("rr_milli")
        )
    )
    qs = gt.select("query_id").distinct()
    return (
        qs.join(inter, "query_id", "left")
        .join(rr, "query_id")
        .select(
            "query_id",
            F.coalesce("recall10", F.lit(0)).cast("bigint").alias(
                "recall10"
            ),
            "rr_milli",
        )
    )


@_register(
    "classifier_eval_holdout",
    f"""
    WITH {_CARD_CTES},
    lab AS (
        SELECT doc_id, source,
               CASE WHEN keep = 1 THEN 1 ELSE -1 END AS y
        FROM g
    ),
    labt AS (SELECT * FROM lab WHERE doc_id % 2 = 0),
    ptoks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    feats AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(tok || ':fh'), 1, 8) AS BIGINT)
                   % {_FH_DIM} AS slot,
               CAST(count(*) AS BIGINT) AS c
        FROM ptoks GROUP BY 1, 2
    ),
    w1 AS (
        SELECT f.slot, CAST(sum(l.y * f.c) AS BIGINT) AS w
        FROM feats f JOIN labt l USING (doc_id) GROUP BY 1
    ), {_perc_round_sql(2, "labt")}, {_perc_round_sql(3, "labt")},
    mf AS (
        SELECT f.doc_id, CAST(sum(f.c * w3.w) AS BIGINT) AS m
        FROM feats f JOIN w3 USING (slot) GROUP BY 1
    ),
    ev AS (
        SELECT l.doc_id, l.source, l.y,
               CASE WHEN coalesce(mf.m, 0) > 0 THEN 1 ELSE -1 END AS p
        FROM lab l LEFT JOIN mf USING (doc_id)
        WHERE l.doc_id % 2 = 1
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN y = 1 AND p = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(sum(CASE WHEN y = -1 AND p = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(sum(CASE WHEN y = 1 AND p = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(sum(CASE WHEN y = -1 AND p = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn,
           CAST(sum(CASE WHEN y = p THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS acc_ppm
    FROM ev GROUP BY 1
    """,
)
def classifier_eval_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HELD-OUT evaluation of the distilled quality classifier — the
    step perceptron_train_filter (in-sample agreement) deliberately
    leaves out: train the 3-round exact-integer batch perceptron on
    even doc_ids only, score the odd half it never saw, and report the
    per-source confusion matrix (tp/fp/fn/tn against the Gopher rule
    label) with exact ppm accuracy — the number that actually gates
    deploying the cheap filter in place of the expensive rule. The
    oracle replays training-on-half AND evaluation (unrolled rounds,
    `_perc_round_sql(lab_tbl="labt")`), so generalization itself is
    hash-certified. 100 TB: identical plan shape to the trainer (the
    label subset is a filter, not a new stage); the confusion rollup is
    one partial-aggregatable groupBy."""
    from .functions.text import feature_hash_slot
    from .planmode import checkpoint, loop_rounds

    docs = spread(load_table(spark, sf_dir, "documents"))
    lab = _gopher_measures(docs).select(
        "doc_id",
        "source",
        F.when(_gopher_keep(), 1).otherwise(-1).cast("int").alias("y"),
    )
    feats = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .select(
            "doc_id",
            feature_hash_slot(F.col("tok"), _FH_DIM).alias("slot"),
        )
        .groupBy("doc_id", "slot")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    feats = checkpoint(feats, reliable=True)
    lab = checkpoint(lab, reliable=True)
    labt = lab.where(F.col("doc_id") % 2 == 0)
    # initial weights checkpointed for the same two-consumer reason as
    # perceptron_train_filter (optimization round 9, §2.4)
    w = checkpoint(
        feats.join(labt.select("doc_id", "y"), "doc_id")
        .groupBy("slot")
        .agg(F.sum(F.col("y") * F.col("c")).cast("bigint").alias("w"))
    )
    for _ in range(loop_rounds(2)):
        m = (
            feats.join(F.broadcast(w), "slot")
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * F.col("w")).cast("bigint").alias("m"))
        )
        mis = (
            labt.select("doc_id", "y")
            .join(m, "doc_id", "left")
            .where(F.col("y") * F.coalesce(F.col("m"), F.lit(0)) <= 0)
        )
        delta = (
            feats.join(mis, "doc_id")
            .groupBy("slot")
            .agg(
                F.sum(F.col("y") * F.col("c")).cast("bigint").alias("dw")
            )
        )
        w = w.join(delta, "slot", "full").select(
            "slot",
            (
                F.coalesce(F.col("w"), F.lit(0))
                + F.coalesce(F.col("dw"), F.lit(0))
            )
            .cast("bigint")
            .alias("w"),
        )
        # per-round weight checkpoint (≤ _FH_DIM rows) — see
        # perceptron_train_filter: without it every later broadcast of
        # w re-executes all earlier rounds (optimization round 9, §2.4)
        w = checkpoint(w)
    mf = (
        feats.join(F.broadcast(w), "slot")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("w")).cast("bigint").alias("m"))
    )
    ev = (
        lab.where(F.col("doc_id") % 2 == 1)
        .join(mf, "doc_id", "left")
        .select(
            "source",
            "y",
            F.when(F.coalesce("m", F.lit(0)) > 0, 1)
            .otherwise(-1)
            .alias("p"),
        )
    )
    y, p = F.col("y"), F.col("p")
    return ev.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(((y == 1) & (p == 1)).cast("int")).cast("bigint").alias("tp"),
        F.sum(((y == -1) & (p == 1)).cast("int")).cast("bigint").alias("fp"),
        F.sum(((y == 1) & (p == -1)).cast("int")).cast("bigint").alias("fn"),
        F.sum(((y == -1) & (p == -1)).cast("int")).cast("bigint").alias("tn"),
        floor_div(
            F.sum((y == p).cast("int")) * F.lit(1000000),
            F.count(F.lit(1)),
        ).alias("acc_ppm"),
    )


def _minhash_pr_sql() -> str:
    """DuckDB twin of the MinHash-LSH candidate-stage precision/recall
    eval: candidates from the md5-mode banded pipeline, ground truth =
    ALL pairs with exact shingle-Jaccard ≥ 0.5 (pairs with J > 0 must
    share a shingle, so the shingle equi-join enumerates the complete
    positive universe), threshold as exact integers (3·inter ≥ |A|+|B|
    ⇔ J ≥ 1/2 — no float boundary)."""
    mins, bands = _minhash_front_sql()
    return f"""
    WITH toks AS (
        SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents
    ), sh AS (
        SELECT doc_id,
               CASE WHEN len(t) <= 5 THEN [array_to_string(t, ' ')]
                    ELSE [array_to_string(t[i:i+4], ' ')
                          for i in range(1, len(t) - 3)]
               END AS s
        FROM toks
    ), shingle_rows AS (
        SELECT DISTINCT doc_id, unnest(s) AS sg FROM sh
    ), sig AS (
        SELECT doc_id,
               {mins}
        FROM shingle_rows
        GROUP BY doc_id
    ), banded AS (
        {bands}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    ), sz AS (
        SELECT doc_id, count(*) AS sz FROM shingle_rows GROUP BY doc_id
    ), gt_pairs AS (
        SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
        FROM shingle_rows x
        JOIN shingle_rows y ON y.sg = x.sg AND x.doc_id < y.doc_id
        GROUP BY 1, 2
    ), gt AS (
        SELECT g.id_a, g.id_b FROM gt_pairs g
        JOIN sz sa ON sa.doc_id = g.id_a
        JOIN sz sb ON sb.doc_id = g.id_b
        WHERE 3 * g.inter >= sa.sz + sb.sz
    ),
    hit AS (SELECT count(*) AS n_hit FROM cand JOIN gt USING (id_a, id_b)),
    nc AS (SELECT count(*) AS n_cand FROM cand),
    ng AS (SELECT count(*) AS n_gt FROM gt)
    SELECT CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_gt AS BIGINT) AS n_gt,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_hit * 1000000 // greatest(n_cand, 1) AS BIGINT)
               AS precision_ppm,
           CAST(n_hit * 1000000 // greatest(n_gt, 1) AS BIGINT)
               AS recall_ppm
    FROM nc, ng, hit
    """


@_register("minhash_pr_eval", _minhash_pr_sql())
def minhash_pr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detector EVALUATION for the near-dup family: candidate-stage
    precision and recall of MinHash(16)+LSH(4 bands) against the EXACT
    Jaccard ≥ 0.5 ground truth. The positive universe is complete
    without an all-pairs join (J > 0 requires a shared shingle, so the
    shingle equi-join enumerates every possible positive), and the
    threshold is the exact integer inequality 3·inter ≥ |A|+|B| — no
    float boundary can disagree between engines. One row out: candidate
    count, ground-truth count, overlap, exact ppm precision/recall —
    the banding-parameter dashboard (b, r) tuning actually reads.
    100 TB: ground truth at full scale is computed on a SAMPLE (this
    query's shape with a doc filter); the candidate side is the
    production banded join, already certified by minhash_lsh_neardup."""
    from .ext.dedup_text import minhash_lsh_candidates
    from .functions.text import shingles

    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    cand = (
        minhash_lsh_candidates(
            docs, id_col="doc_id", text_col="text", hash_fn="md5"
        )
        .select("id_a", "id_b")
        .distinct()
    )
    sh_rows = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(shingles(F.col("text"), 5))
        ).alias("sg"),
    )
    sz = sh_rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    x = sh_rows.select(
        F.col("doc_id").alias("id_a"), F.col("sg").alias("sg")
    )
    y = sh_rows.select(
        F.col("doc_id").alias("id_b"), F.col("sg").alias("sg")
    )
    gt_pairs = (
        x.join(y, "sg")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    gt = (
        gt_pairs.join(
            sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa")),
            "id_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb")),
            "id_b",
        )
        .where(3 * F.col("inter") >= F.col("sa") + F.col("sb"))
        .select("id_a", "id_b")
    )
    # cand and gt each feed TWO metric consumers (the hit join + their
    # own count); both are candidate-pair-sized — materialize once
    # instead of re-running the LSH pipeline / the shingle self-join per
    # consumer (optimization round 8)
    from .planmode import checkpoint

    cand = checkpoint(cand)
    gt = checkpoint(gt)
    n_hit = cand.join(gt, ["id_a", "id_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    n_gt = gt.agg(F.count(F.lit(1)).alias("n_gt"))
    return (
        n_cand.crossJoin(n_gt)
        .crossJoin(n_hit)
        .select(
            F.col("n_cand").cast("bigint").alias("n_cand"),
            F.col("n_gt").cast("bigint").alias("n_gt"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            F.expr("n_hit * 1000000 div greatest(n_cand, 1)")
            .cast("bigint")
            .alias("precision_ppm"),
            F.expr("n_hit * 1000000 div greatest(n_gt, 1)")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


def _neardup_cluster_eval_sql() -> str:
    """DuckDB twin of the END-TO-END near-dup pipeline evaluation:
    the certified LSH cluster assignment (recursive star-CC closure)
    scored pairwise against GROUND-TRUTH clusters = connected
    components of the exact shingle-Jaccard ≥ 0.5 graph (its own
    recursive closure over the complete shared-shingle positive
    universe, the `minhash_pr_eval` edge set)."""
    return f"""
    WITH pred AS ({_lsh_cluster_sql()}),
    gt_assign AS (
        WITH RECURSIVE toks AS (
            SELECT doc_id, {_NORM_TOKENS_SQL} AS t FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(t) <= 5 THEN [array_to_string(t, ' ')]
                        ELSE [array_to_string(t[i:i+4], ' ')
                              for i in range(1, len(t) - 3)]
                   END AS s
            FROM toks
        ), shingle_rows AS (
            SELECT DISTINCT doc_id, unnest(s) AS sg FROM sh
        ), sz AS (
            SELECT doc_id, count(*) AS sz FROM shingle_rows GROUP BY doc_id
        ), gt_pairs AS (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS inter
            FROM shingle_rows x
            JOIN shingle_rows y ON y.sg = x.sg AND x.doc_id < y.doc_id
            GROUP BY 1, 2
        ), gt AS (
            SELECT g.id_a, g.id_b FROM gt_pairs g
            JOIN sz sa ON sa.doc_id = g.id_a
            JOIN sz sb ON sb.doc_id = g.id_b
            WHERE 3 * g.inter >= sa.sz + sb.sz
        ), gedges AS (
            SELECT id_a AS u, id_b AS v FROM gt
            UNION
            SELECT id_b, id_a FROM gt
        ), reach(node, r) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT re.node, e.v FROM reach re JOIN gedges e ON e.u = re.r
        )
        SELECT node AS doc_id, min(r) AS cluster_id
        FROM reach GROUP BY 1
    ),
    pp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM pred a JOIN pred b
          ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
    ),
    tp AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM gt_assign a JOIN gt_assign b
          ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
    ),
    hit AS (SELECT count(*) AS n_hit FROM pp JOIN tp USING (id_a, id_b)),
    np AS (SELECT count(*) AS n_pred FROM pp),
    nt AS (SELECT count(*) AS n_true FROM tp),
    cp AS (SELECT count(*) AS n_pred_clusters FROM
           (SELECT cluster_id FROM pred GROUP BY 1 HAVING count(*) > 1)),
    ct AS (SELECT count(*) AS n_true_clusters FROM
           (SELECT cluster_id FROM gt_assign GROUP BY 1 HAVING count(*) > 1))
    SELECT CAST(n_pred AS BIGINT) AS n_pred_pairs,
           CAST(n_true AS BIGINT) AS n_true_pairs,
           CAST(n_hit AS BIGINT) AS n_hit_pairs,
           CAST(n_pred_clusters AS BIGINT) AS n_pred_clusters,
           CAST(n_true_clusters AS BIGINT) AS n_true_clusters,
           CAST(n_hit * 1000000 // greatest(n_pred, 1) AS BIGINT)
               AS precision_ppm,
           CAST(n_hit * 1000000 // greatest(n_true, 1) AS BIGINT)
               AS recall_ppm
    FROM np, nt, hit, cp, ct
    """


@_register("neardup_cluster_eval", _neardup_cluster_eval_sql())
def neardup_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END near-dup PIPELINE evaluation (round-7 verdict item 6 —
    `minhash_pr_eval` certifies only the candidate GENERATOR; this
    certifies the full candidates→closure→clusters chain): the
    production cluster assignment (⊕ lsh_neardup_clusters) scored
    against ground-truth clusters = connected components of the EXACT
    shingle-Jaccard ≥ 0.5 graph, with the standard pair-counting
    precision/recall (predicted same-cluster pairs vs true same-cluster
    pairs — the metric detects both over-merging via banding collisions,
    which costs precision, and transitive-chaining of sub-threshold
    pairs, which the pairwise candidate eval cannot see). Exact integer
    threshold (3·inter ≥ |A|+|B|), both closures replayed recursively in
    the oracle. 100 TB: same-cluster pair expansion is bounded by
    near-dup cluster sizes (the detectors' banding bounds them); ground
    truth at full scale runs on a document sample, the production side
    is the certified banded pipeline."""
    from .ext.graph import connected_components
    from .functions.text import shingles

    pred = lsh_neardup_clusters(spark, sf_dir)
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    # sh_rows feeds three consumers (both self-join sides + the size
    # aggregate) but is deliberately NOT checkpointed: an explicit
    # DISK_ONLY materialization of the corpus-wide shingle table was
    # MEASURED 1.2 s SLOWER at sf0.1 (7.16 → 8.36, optimization round
    # 9; guide §1 measure-first) — the explode recomputes from the
    # column-pruned scan cheaper than its full width writes+reads, and
    # the size pass collapses map-side to one row per doc anyway.
    sh_rows = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(F.col("text"), 5))).alias("sg"),
    )
    sz = sh_rows.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    gt_pairs = (
        sh_rows.select(F.col("doc_id").alias("id_a"), "sg")
        .join(sh_rows.select(F.col("doc_id").alias("id_b"), "sg"), "sg")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    gt = (
        gt_pairs.join(
            sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sa")),
            "id_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sb")),
            "id_b",
        )
        .where(3 * F.col("inter") >= F.col("sa") + F.col("sb"))
        .select("id_a", "id_b")
    )
    comp = connected_components(
        gt.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    gt_assign = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias(
                "cluster_id"
            ),
        )
    )

    def same_cluster_pairs(assign: DataFrame) -> DataFrame:
        a = assign.select(F.col("doc_id").alias("id_a"), "cluster_id")
        b = assign.select(F.col("doc_id").alias("id_b"), "cluster_id")
        return (
            a.join(b, "cluster_id")
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )

    def multi_clusters(assign: DataFrame, out: str) -> DataFrame:
        return (
            assign.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") > 1)
            .agg(F.count(F.lit(1)).alias(out))
        )

    # pred and gt_assign each feed THREE consumers (two sides of the
    # same-cluster self-join + the multi-cluster count) and pp/tp two
    # (own count + the hit join); all four are assignment/pair-sized —
    # materialize once instead of re-running the full LSH cluster
    # pipeline / the exact-graph closure per consumer (optimization r8)
    from .planmode import checkpoint

    pred = checkpoint(pred)
    gt_assign = checkpoint(gt_assign)
    pp, tp = (
        checkpoint(same_cluster_pairs(pred)),
        checkpoint(same_cluster_pairs(gt_assign)),
    )
    return (
        pp.agg(F.count(F.lit(1)).alias("n_pred"))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("n_true")))
        .crossJoin(
            pp.join(tp, ["id_a", "id_b"]).agg(
                F.count(F.lit(1)).alias("n_hit")
            )
        )
        .crossJoin(multi_clusters(pred, "n_pred_clusters"))
        .crossJoin(multi_clusters(gt_assign, "n_true_clusters"))
        .select(
            F.col("n_pred").cast("bigint").alias("n_pred_pairs"),
            F.col("n_true").cast("bigint").alias("n_true_pairs"),
            F.col("n_hit").cast("bigint").alias("n_hit_pairs"),
            F.col("n_pred_clusters").cast("bigint").alias("n_pred_clusters"),
            F.col("n_true_clusters").cast("bigint").alias("n_true_clusters"),
            F.expr("n_hit * 1000000 div greatest(n_pred, 1)")
            .cast("bigint")
            .alias("precision_ppm"),
            F.expr("n_hit * 1000000 div greatest(n_true, 1)")
            .cast("bigint")
            .alias("recall_ppm"),
        )
    )


def _register_langid_eval() -> None:
    inner = ORACLE_SQL["lang_id_heuristic"]

    @_register(
        "langid_confusion_eval",
        f"""
        WITH pred AS ({inner}),
        tot_t AS (SELECT lang, count(*) AS nt FROM pred GROUP BY 1),
        tot_p AS (SELECT lang_pred, count(*) AS np FROM pred GROUP BY 1),
        cm AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
               FROM pred GROUP BY 1, 2)
        SELECT cm.lang, cm.lang_pred, cm.n,
               CAST(cm.n * 1000000 // t.nt AS BIGINT) AS recall_ppm,
               CAST(cm.n * 1000000 // p.np AS BIGINT) AS precision_ppm
        FROM cm JOIN tot_t t USING (lang) JOIN tot_p p USING (lang_pred)
        """,
    )
    def langid_confusion_eval(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Classifier EVALUATION as a pipeline op, text edition: the
        n-gram-marker language identifier scored against the corpus's
        labeled ``lang`` column — full confusion matrix plus exact ppm
        recall (share of the true language's docs landing in this cell)
        and precision (share of this prediction's docs) per cell. The
        oracle wraps the certified lang_id twin and replays the metric,
        so the evaluation itself is hash-certified, like
        `ann_recall_report` on the vector side. 100 TB: three
        partial-aggregatable counts over the prediction frame; the
        matrix is |langs|²-bounded."""
        pred = lang_id_heuristic(spark, sf_dir)
        tot_t = pred.groupBy("lang").agg(F.count(F.lit(1)).alias("nt"))
        tot_p = pred.groupBy("lang_pred").agg(
            F.count(F.lit(1)).alias("np")
        )
        cm = pred.groupBy("lang", "lang_pred").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        return (
            cm.join(tot_t, "lang")
            .join(tot_p, "lang_pred")
            .select(
                "lang",
                "lang_pred",
                "n",
                F.expr("n * 1000000 div nt")
                .cast("bigint")
                .alias("recall_ppm"),
                F.expr("n * 1000000 div np")
                .cast("bigint")
                .alias("precision_ppm"),
            )
        )


_register_langid_eval()


@_register("stream_state_report")
def stream_state_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-state MONITORING as a first-class engine surface (the
    `ivfpq_drift_report` sibling for Structured Streaming, round-7
    verdict item 7): run a real watermarked dedup stream over the
    events feed in three time-ordered micro-batches
    (maxFilesPerTrigger=1 under availableNow), then read the dedup
    operator's retained keys straight out of the checkpoint with the
    Spark 4 state data source (the same surface that found the r7
    unbounded-state bug) and report what an on-call engineer pages on:
    retained state rows vs total input/output, the terminal watermark
    horizon (global max event time − delay: availableNow runs a final
    state-flush batch that applies the last watermark, so this tight
    bound is the binding one), the oldest/newest retained key, and the
    eviction lag of the oldest key past that horizon.
    ``eviction_ok=1`` certifies the state store is BOUNDED by the
    watermark (no retained key predates the horizon). Rows-only by
    nature (the state store is not SQL-reproducible); the bounded-state
    law is additionally pinned in tests/test_streaming.py. 100 TB: the
    state read touches only the checkpoint's state files (state rows,
    never the data), every time boundary is a 1-row aggregate, and the
    report is one row."""
    import glob
    import os
    import tempfile
    from datetime import datetime, timedelta

    FMT_PY = "%Y-%m-%d %H:%M:%S.%f"
    FMT_SQL = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    delay = timedelta(hours=1)

    tmp = tempfile.mkdtemp(prefix="ssr_q_")
    landing, out, ckpt = f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt"
    os.makedirs(landing)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", FMT_SQL).alias("ts_s"),
    )
    lo_s, hi_s, n_input = ev.agg(
        F.min("ts_s"), F.max("ts_s"), F.count(F.lit(1))
    ).first()
    lo = datetime.strptime(lo_s, FMT_PY)
    span = (datetime.strptime(hi_s, FMT_PY) - lo) / 3
    c1s, c2s = (
        (lo + span).strftime(FMT_PY),
        (lo + 2 * span).strftime(FMT_PY),
    )
    # one FILE per micro-batch: the fixed-width timestamp string makes
    # lexicographic == chronological, so the three slices are the three
    # admission-controlled batches in event-time order
    slices = [
        ev.where(F.col("ts_s") < c1s),
        ev.where((F.col("ts_s") >= c1s) & (F.col("ts_s") < c2s)),
        ev.where(F.col("ts_s") >= c2s),
    ]
    for i, b in enumerate(slices):
        stage = f"{tmp}/stage{i}"
        b.coalesce(1).write.json(stage)
        os.rename(
            sorted(glob.glob(f"{stage}/part-*.json"))[0],
            f"{landing}/b{i}.json",
        )

    stream = (
        spark.readStream.schema(
            "event_id LONG, user_id LONG, event_type STRING, ts_s STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .json(landing)
        .withColumn("ts", F.to_timestamp("ts_s"))
        .withWatermark("ts", "1 hour")
        .dropDuplicates(["event_id", "ts"])
    )
    # the state-store instance count is pinned to shuffle.partitions at
    # checkpoint creation; 3 micro-batches × 32 stores is pure per-store
    # open/commit overhead at this batch size, so the monitoring stream
    # runs with a few stores (a real deployment sizes this to state
    # volume, not to the session's scan parallelism)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "stream_state_report: stream did not finish within "
                "300s — refusing to report on a half-processed checkpoint"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    n_output = spark.read.parquet(out).count()

    # the horizon the final (availableNow state-flush) batch evicted
    # with: the terminal watermark = global max event time − delay
    horizon_s = (datetime.strptime(hi_s, FMT_PY) - delay).strftime(FMT_PY)

    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(F.col("key.ts").alias("ts"))
    )
    return state.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_state_rows"),
        F.date_format(F.min("ts"), FMT_SQL).alias("min_state_ts"),
        F.date_format(F.max("ts"), FMT_SQL).alias("max_state_ts"),
    ).select(
        F.lit(3).cast("bigint").alias("n_batches"),
        F.lit(n_input).cast("bigint").alias("n_input_rows"),
        F.lit(n_output).cast("bigint").alias("n_output_rows"),
        "n_state_rows",
        "min_state_ts",
        "max_state_ts",
        F.lit(horizon_s).alias("watermark_horizon"),
        (F.col("min_state_ts") >= F.lit(horizon_s))
        .cast("bigint")
        .alias("eviction_ok"),
        (
            F.unix_micros(F.to_timestamp("min_state_ts"))
            - F.unix_micros(F.to_timestamp(F.lit(horizon_s)))
        )
        .cast("bigint")
        .alias("oldest_lag_us"),
    )


ALL = sorted(QUERIES)
