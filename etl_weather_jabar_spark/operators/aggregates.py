"""Aggregation operators (SURVEY §2.4 A1-A10) and the Gold recap assembly.

Semantics pinned from the reference (SURVEY §7.2 watch-list):

* A8: ``sum`` of an empty/all-null measure is **0.0** while avg/min/max are
  null (daily_compile_weather.py:71-78) → only the sum starts from 0.0.
* A6: ``statistics.mode`` returns the first value reaching the max count in
  minute order → deterministic (count DESC, first-seen ASC, value ASC)
  tie-break, not Spark's arbitrary-tie ``F.mode``.
* A4: averages rounded to 2 dp (daily_compile_weather.py:71,74,75).
* A9: the Gold recap is one grouped pass per station-day — a single
  ``collect_list(struct)`` + ``array_sort`` per (date, location_id), from
  which array functions build the nested hourly and minute docs; the doc
  takes the name of the day's latest named row. The expressions
  are SQL text, built at import and parsed per call. Ordering is explicit,
  never relied on from shuffle order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StructType

from ..schemas import DAILY_RECAP, MINUTE_DOC


def deterministic_mode(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    order_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """A6: per-group mode with the reference's tie-break — among values tied
    on count, the one seen earliest (min ``order_col``), then lexicographic.

    Two-phase: partial-aggregable groupBy counts (map-side combine keeps the
    shuffle small at scale), then a per-key window over the *distinct values*
    only (tiny partitions — |values| rows, not |rows|).
    """
    out = out_col or f"{value_col}_mode"
    counted = (
        df.where(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min(order_col).alias("__first"))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("__cnt").desc(), F.col("__first").asc(), F.col(value_col).asc()
    )
    return (
        counted.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*keys, F.col(value_col).alias(out))
    )


def equi_width_histogram(
    df: DataFrame, units: Column, width_units: int, *, out_prefix: str = "bin"
) -> DataFrame:
    """Equi-width histogram of an exact integer-unit measure: one
    partial-aggregable groupBy on ``floor(units / width)`` — the shuffle
    carries |bins| rows per map task, not |rows|, so it scales to any
    data size. Negative values floor toward -inf (true bins, not
    truncation). Output: ``bin`` (bigint index), ``{prefix}_lo_units``
    (inclusive lower edge), ``n`` (bigint count).

    This is the distributed analogue of a profiler's value-distribution
    pane; downstream it feeds skew detection (a histogram of join-key
    frequencies) and outlier gates.
    """
    u = units.cast("bigint")
    wlit = F.lit(int(width_units)).cast("bigint")
    # exact floor division (see queries._half_up_div for the identity)
    bin_idx = ((u - F.pmod(u, wlit)) / wlit).cast("bigint")
    return (
        df.select(bin_idx.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            (F.col("bin") * wlit).alias(f"{out_prefix}_lo_units"),
            "n",
        )
    )


def winsorize(
    df: DataFrame,
    keys: list[str],
    units: Column,
    *,
    lo: float = 0.05,
    hi: float = 0.95,
    out_col: str = "w_units",
    approx: bool = False,
) -> DataFrame:
    """Per-group winsorization: clip an exact integer-unit measure to its
    group's [lo, hi] percentiles (linear interpolation — Spark
    ``percentile`` and DuckDB ``quantile_cont`` share the definition, and
    integer inputs keep the interpolation arithmetic engine-identical).

    Two-phase plan: a partial-aggregable groupBy computes the tiny
    per-group bound table, which broadcast-joins back onto the fact — no
    second shuffle of the big side. The standard outlier gate before
    training-statistics aggregation.

    Exact ``percentile`` buffers each group's values in executor memory —
    correct for verification, wrong for a 100 TB group. Pass
    ``approx=True`` for the scale path (t-digest ``percentile_approx``,
    bounded state, mergeable partials); bounds then carry the sketch's
    rank error but the clip semantics are unchanged.
    """
    pctl = (
        (lambda c, p: F.percentile_approx(c, p, 10_000).cast("double"))
        if approx
        else (lambda c, p: F.percentile(c, p))
    )
    bounds = df.groupBy(*keys).agg(
        pctl(units, F.lit(lo)).alias("__plo"),
        pctl(units, F.lit(hi)).alias("__phi"),
    )
    clipped = (
        df.withColumn("__u", units.cast("bigint"))
        .join(F.broadcast(bounds), on=keys)
        .withColumn(
            out_col,
            F.greatest(F.least(F.col("__u").cast("double"), F.col("__phi")), F.col("__plo")),
        )
        .drop("__plo", "__phi", "__u")
    )
    return clipped


def standardize(
    df: DataFrame,
    keys: list[str],
    units: Column,
    *,
    out_col: str = "z",
) -> DataFrame:
    """Per-group z-score standardization of an exact integer-unit measure
    — the feature-normalization step before training statistics, in a
    form that is bit-identical across engines.

    The algebra keeps every intermediate exact:
    ``z = (x*n - su) / sqrt(n*sq - su^2)`` — numerator and the sqrt
    argument are exact 64-bit integers (population variance scaled by
    n^2), so the only float ops are one correctly-rounded sqrt and one
    division, identical on any IEEE engine. Zero-variance groups get
    z = 0. Same two-phase plan as :func:`winsorize`: tiny moment table,
    broadcast back, no second shuffle of the facts.
    """
    u = units.cast("bigint")
    moments = df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(u).alias("__su"),
        F.sum(u * u).alias("__sq"),
    )
    var_n2 = F.col("__n") * F.col("__sq") - F.col("__su") * F.col("__su")
    z = F.when(
        var_n2 > 0,
        (u * F.col("__n") - F.col("__su")).cast("double")
        / F.sqrt(var_n2.cast("double")),
    ).otherwise(F.lit(0.0))
    return (
        df.join(F.broadcast(moments), on=keys)
        .withColumn(out_col, z)
        .drop("__n", "__su", "__sq")
    )


def _ddl(t: DataType) -> str:
    """``t`` as a SQL type, keeping its fields' NOT NULL."""
    if isinstance(t, ArrayType):
        return f"ARRAY<{_ddl(t.elementType)}>"
    if isinstance(t, StructType):
        return "STRUCT<" + ", ".join(
            f"`{f.name}`: {_ddl(f.dataType)}{'' if f.nullable else ' NOT NULL'}"
            for f in t.fields
        ) + ">"
    return t.simpleString()


def _present(rows: str, field: str) -> str:
    """The non-null ``field`` values of an array of row structs."""
    return f"array_compact(transform({rows}, r -> r.`{field}`))"


def _avg2(vals: str) -> str:
    """A4: ``round(avg, 2)``, summing from 0.0 as Spark's ``avg`` does."""
    total = f"aggregate({vals}, 0.0D, (acc, v) -> acc + CAST(v AS DOUBLE))"
    return f"CASE WHEN size({vals}) > 0 THEN round({total} / size({vals}), 2) END"


def _first_mode(vals: str) -> str:
    """A6 over values in first-seen order: the first with the top count."""
    def count(v):
        return f"size(filter({vals}, w -> w = {v}))"

    return (
        f"aggregate(array_distinct({vals}), CAST(NULL AS STRING), (best, v) -> "
        f"CASE WHEN best IS NULL OR {count('v')} > {count('best')} THEN v ELSE best END)"
    )


def _data_points(rows: str) -> str:
    """J4 + A9 inner level: a doc per row on the 00..50 grid (duplicates kept,
    off-grid minutes dropped), an all-null doc per empty slot
    (daily_compile_weather.py:34-58), in ``array_sort`` order."""
    hits = f"filter({rows}, r -> r.`minute` = m)"
    # an empty slot becomes one null row, whose fields all read null
    padded = f"CASE WHEN size({hits}) > 0 THEN {hits} ELSE array(NULL) END"
    doc = ", ".join(f"r.`{c}` AS `{c}`" for c in MINUTE_DOC.fieldNames()[1:])
    grid = ", ".join(f"'{m:02d}'" for m in range(0, 60, 10))
    return (
        f"array_sort(flatten(transform(array({grid}), "
        f"m -> transform({padded}, r -> struct(m AS `minute`, {doc})))))"
    )


def _hour_doc(g: str) -> str:
    """One hour's doc from ``g``, a struct of the hour and its rows."""
    rs = f"{g}.`rows`"
    temps = _present(rs, "temp")
    return f"""struct(
        {g}.`hour` AS `hour`,
        array_contains(`hours`, '23') AS `full_recap`,
        {_avg2(temps)} AS `temp_avg`,
        array_min({temps}) AS `temp_min`,
        array_max({temps}) AS `temp_max`,
        {_avg2(_present(rs, "humidity"))} AS `humidity_avg`,
        {_avg2(_present(rs, "wind_kph"))} AS `wind_avg_kph`,
        {_first_mode(_present(rs, "wind_dir"))} AS `dominant_wind_dir`,
        aggregate({_present(rs, "precip_mm")}, 0.0D, (acc, v) -> acc + v) AS `precip_mm`,
        {_data_points(rs)} AS `data_points`)"""


# The recap's three expressions as SQL text, built once here and parsed per
# call: a few JVM calls, where the same expressions as Columns cost ~1,400.
# ``rows`` is the station-day's rows, sorted; they name only grouped columns.
_RECAP_ROWS = (
    "array_sort(collect_list(struct(`hour`, `minute`, `wind_dir`, `temp_c` AS `temp`, "
    "`humidity`, `wind_kph`, `precip_mm`))) AS `rows`"
)
# The station-day's name: that of its latest named row, the greatest on a
# tie. Gold is keyed on (date, location_id), so the name cannot be a
# grouping key: two names in one day would give two docs for one key.
_RECAP_NAME = (
    "max(CASE WHEN `location_name` IS NOT NULL THEN struct(`timestamp`, `location_name`) END)"
    ".`location_name` AS `location_name`"
)
# array_compact types the hours non-null, as HOUR_DOC's ``hour`` is
_RECAP_HOURS = "array_compact(array_distinct(transform(`rows`, r -> r.`hour`))) AS `hours`"
# the cast widens nullability to DAILY_RECAP's; the CASE makes the array
# itself nullable, as the schema has it
_RECAP_HOURLY = (
    "CASE WHEN size(`hours`) > 0 THEN CAST(transform("
    "transform(`hours`, h -> struct(h AS `hour`, filter(`rows`, r -> r.`hour` = h) AS `rows`)), "
    f"g -> {_hour_doc('g')}) AS {_ddl(DAILY_RECAP['hourly'].dataType)}) END AS `hourly`"
)


def daily_recap(obs: DataFrame) -> DataFrame:
    """The Gold assembly (daily_compile_weather.py:96-134) as one groupBy per
    (date, location_id) — a single shuffle — collecting the station-day's
    rows (at most 24 × 6) sorted by (hour, minute, wind_dir, ...). Array
    functions then build, per hour with rows (empty hours skipped,
    :123-124), the A4/A5/A8 aggregates, the A6 wind mode (ties to the
    earliest minute, then the smallest value), the grid-aligned
    ``data_points`` (J4/A9) and the W2 ``full_recap`` flag (hour 23
    present). ``location_name`` is the name on the day's latest row that
    has one (the greatest name on a tie), so a renamed station still gets
    one doc per day. The schema is DAILY_RECAP."""
    day = obs.groupBy("date", "location_id").agg(F.expr(_RECAP_NAME), F.expr(_RECAP_ROWS))
    return day.selectExpr("*", _RECAP_HOURS).selectExpr(
        "date", "location_id", "location_name", _RECAP_HOURLY)


def exact_distinct_bitmap(
    df: DataFrame,
    keys: list[str],
    col: str,
    out_col: str = "n_distinct",
) -> DataFrame:
    """EXACT distinct-count over a bigint id column via mergeable fixed-width
    bitmaps (Spark 3.5+ ``bitmap_*`` builtins) — the scale path between
    ``count(distinct)`` (exact, but shuffles every raw value to one reducer
    per group under Expand) and HLL sketches (mergeable, but approximate).

    Two-level partial aggregation: ids map to (bucket, bit) with
    ``bitmap_bucket_number``/``bitmap_bit_position`` (32768 ids per bucket),
    each (key, bucket) group ORs its bits into one ≤4 KB bitmap map-side,
    and the final reduce sums ``bitmap_count`` per key. The shuffle carries
    one bitmap per (key, bucket) instead of one row per distinct id — at
    100 TB that's the difference between a bounded merge and a skewed
    all-values exchange. Reference parity: the reference counts distinct
    station ids with an in-memory set (SURVEY §2.4 A1 analogue); this is
    the distributed exact form.
    """
    per_bucket = (
        df.select(
            *keys,
            F.expr(f"bitmap_bucket_number({col})").alias("__bkt"),
            F.expr(f"bitmap_bit_position({col})").alias("__pos"),
        )
        .groupBy(*keys, "__bkt")
        .agg(F.expr("bitmap_construct_agg(__pos)").alias("__bm"))
    )
    return per_bucket.groupBy(*keys).agg(
        F.sum(F.expr("bitmap_count(__bm)")).cast("bigint").alias(out_col)
    )


def sql_standard_rollup(
    df: DataFrame,
    group_cols: list,
    aggs: list,
    cube: bool = False,
) -> DataFrame:
    """ROLLUP/CUBE with the SQL-STANDARD empty-input behavior.

    The standard's ``()`` grouping set always contributes a grand-total
    row — on EMPTY input that is one row of NULL group keys with
    count = 0 (DuckDB, Postgres agree). Spark's Expand-based
    rollup/cube instead yields NO rows on empty input (divergence found
    by the round-3 differential fuzzer; absorbed there as a harness
    carve-out). This operator restores the standard semantics on every
    input: the non-empty grouping sets run through one Expand
    aggregation exactly as before, and the grand total comes from a
    separate GLOBAL aggregate — which Spark evaluates to exactly one
    row even over an empty child. On non-empty input the result is
    row-identical to the native rollup/cube (pinned in tests).

    Scale shape: the grand-total branch is a full-reduce of
    partial-aggregated map outputs (one extra row of traffic per map
    task), unioned onto the grouping-set pass — no extra scan of the
    source is needed at execution time when the plan reuses the
    exchange, and the branch output is always exactly one row.

    ``group_cols`` may be Columns (e.g. ``F.date_format(...).alias``)
    or names; ``aggs`` must be aliased aggregate Columns.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in group_cols]
    n = len(cols)
    if cube:
        sets = [
            [cols[i] for i in range(n) if mask & (1 << i)]
            for mask in range((1 << n) - 1, 0, -1)
        ]
    else:
        sets = [cols[:i] for i in range(n, 0, -1)]
    grouped = df.groupingSets(sets, *cols).agg(*aggs)
    names = grouped.schema.names
    key_fields = grouped.schema.fields[:n]
    grand = df.agg(*aggs).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in key_fields],
        *names[n:],
    )
    return grouped.unionByName(grand)
