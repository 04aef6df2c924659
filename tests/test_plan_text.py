"""The hot plans built from SQL text — the Silver transform's keep-first
and flatten, and the Gold recap — against their Column-built forms, and a
bound on the JVM round trips that building them takes."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_weather_jabar_spark.operators.aggregates import daily_recap
from etl_weather_jabar_spark.operators.dedup import _sql_name, dedupe_keep_first
from etl_weather_jabar_spark.operators.filters import batch_key_filter
from etl_weather_jabar_spark.operators.joins import anti_join_unprocessed
from etl_weather_jabar_spark.operators.projections import TS_FMT, flatten_raw
from etl_weather_jabar_spark.plans.pipelines import transform_stage
from etl_weather_jabar_spark.schemas import DAILY_RECAP, MINUTE_DOC

from .fixtures import _raw_row, bronze_fixture, silver_fixture
from .test_weather_pipeline import _edge_case_silver


def _reference_dedupe_keep_first(df, keys, order_by=None):
    """``dedupe_keep_first`` built one Column call at a time."""
    order = order_by or ["_id"]
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).asc() for c in order])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _reference_flatten_raw(df):
    """``flatten_raw`` built one Column call at a time."""
    event_time = F.when(
        F.col("fetch_method") == "history", F.col("dag_times.logical_date")
    ).otherwise(F.col("dag_times.end"))
    ts = F.to_timestamp(event_time, TS_FMT)
    return (
        df.where(F.col("location.id").isNotNull())
        .select(
            F.col("_id"),
            F.date_format(ts, TS_FMT).alias("timestamp"),
            F.date_format(ts, "yyyy-MM-dd").alias("date"),
            F.date_format(ts, "HH").alias("hour"),
            F.date_format(ts, "mm").alias("minute"),
            F.col("location.id").alias("location_id"),
            F.col("location.name").alias("location_name"),
            F.col("location.lat").alias("lat"),
            F.col("location.lon").alias("lon"),
            F.col("current.temp_c").alias("temp_c"),
            F.col("current.feelslike_c").alias("feelslike_c"),
            F.col("current.humidity").alias("humidity"),
            F.col("current.wind_kph").alias("wind_kph"),
            F.col("current.wind_dir").alias("wind_dir"),
            F.col("current.wind_degree").alias("wind_degree"),
            F.col("current.precip_mm").alias("precip_mm"),
            F.col("current.is_day").alias("is_day"),
            F.col("current.uv").alias("uv"),
            F.col("current.cloud").alias("cloud"),
            F.col("current.condition.text").alias("condition"),
        )
    )


def _reference_transform_stage(raw, batch_end=None, processed=None):
    deduped = _reference_dedupe_keep_first(
        raw, keys=["location.id", "dag_times.end"], order_by=["_id"]
    )
    if batch_end is not None:
        deduped = batch_key_filter(deduped, batch_end)
    if processed is not None:
        deduped = anti_join_unprocessed(deduped, processed, on="_id")
    return _reference_flatten_raw(deduped)


def _reference_daily_recap(obs):
    """``daily_recap`` with its expressions built as Columns."""
    def present(rows, field):
        return F.array_compact(F.transform(rows, lambda r: r[field]))

    def avg2(vals):
        total = F.aggregate(vals, F.lit(0.0), lambda acc, v: acc + v.cast("double"))
        return F.when(F.size(vals) > 0, F.round(total / F.size(vals), 2))

    def first_mode(vals):
        count = lambda v: F.size(F.filter(vals, lambda w: w == v))  # noqa: E731
        return F.aggregate(
            F.array_distinct(vals), F.lit(None).cast("string"),
            lambda best, v: F.when(best.isNull() | (count(v) > count(best)), v).otherwise(best),
        )

    def data_points(rows):
        measures = MINUTE_DOC.fieldNames()[1:]

        def slot(m):
            hits = F.filter(rows, lambda r: r["minute"] == m)
            padded = F.when(F.size(hits) > 0, hits).otherwise(F.array(F.lit(None)))
            return F.transform(
                padded, lambda r: F.struct(m.alias("minute"), *[r[c] for c in measures]))

        grid = F.array(*[F.lit(f"{m:02d}") for m in range(0, 60, 10)])
        return F.array_sort(F.flatten(F.transform(grid, slot)))

    row = F.struct("hour", "minute", "wind_dir", F.col("temp_c").alias("temp"),
                   "humidity", "wind_kph", "precip_mm")
    rows = F.array_sort(F.collect_list(row))
    hours = F.array_compact(F.array_distinct(F.transform("rows", lambda r: r["hour"])))

    def hour_doc(g):
        rs = g["rows"]
        temps = present(rs, "temp")
        return F.struct(
            g["hour"].alias("hour"),
            F.array_contains("hours", "23").alias("full_recap"),
            avg2(temps).alias("temp_avg"),
            F.array_min(temps).alias("temp_min"),
            F.array_max(temps).alias("temp_max"),
            avg2(present(rs, "humidity")).alias("humidity_avg"),
            avg2(present(rs, "wind_kph")).alias("wind_avg_kph"),
            first_mode(present(rs, "wind_dir")).alias("dominant_wind_dir"),
            F.aggregate(present(rs, "precip_mm"), F.lit(0.0), lambda a, v: a + v)
            .alias("precip_mm"),
            data_points(rs).alias("data_points"),
        )

    by_hour = F.transform("hours", lambda h: F.struct(
        h.alias("hour"), F.filter("rows", lambda r: r["hour"] == h).alias("rows")))
    hourly = F.transform(by_hour, hour_doc).cast(DAILY_RECAP["hourly"].dataType)
    named = F.when(F.col("location_name").isNotNull(), F.struct("timestamp", "location_name"))
    day = obs.groupBy("date", "location_id").agg(
        F.max(named)["location_name"].alias("location_name"), rows.alias("rows"))
    return day.withColumn("hours", hours).select(
        "date", "location_id", "location_name",
        F.when(F.size("hours") > 0, hourly).alias("hourly"))


def _rows(df):
    return sorted((r.asDict(recursive=True) for r in df.collect()), key=repr)


def _bronze(spark):
    """The Bronze fixture (history docs, a NULL ``location.id``, a repeated
    (``location.id``, ``dag_times.end``)) plus a history doc whose interval
    end holds a quote and a live doc repeating another's key."""
    from etl_weather_jabar_spark.schemas import RAW_WEATHER

    extra = [
        _raw_row("b007", "it's 10:20", 3, temp=27.0, method="history",
                 logical="2024-02-01 10:00:00"),
        _raw_row("b000", "2024-02-01 10:10:00", 2, temp=20.0),
    ]
    return bronze_fixture(spark).unionByName(spark.createDataFrame(extra, RAW_WEATHER))


def test_transform_operators_match_column_forms(spark):
    """The SQL-text keep-first, flatten and transform stage analyze to the
    same plans as their Column-built forms and land the same rows, with
    and without the batch-key filter and the processed anti-join."""
    raw = _bronze(spark)
    keys = ["location.id", "dag_times.end"]
    got = dedupe_keep_first(raw, keys, order_by=["_id"])
    want = _reference_dedupe_keep_first(raw, keys, order_by=["_id"])
    assert got.sameSemantics(want)
    assert _rows(got) == _rows(want)
    assert flatten_raw(raw).sameSemantics(_reference_flatten_raw(raw))
    processed = raw.where(F.col("_id") == "b003").select("_id")
    cases = [{}, {"batch_end": "2024-02-01 10:10:00"}, {"processed": processed}]
    for kw in cases:
        got, want = transform_stage(raw, **kw), _reference_transform_stage(raw, **kw)
        assert got.sameSemantics(want), kw
        assert _rows(got) == _rows(want), kw
    silver = {r["_id"]: r for r in transform_stage(raw).collect()}
    # keep-first on the repeated keys, NULL location rejected, history
    # docs stamped by their logical date
    assert sorted(silver) == ["b000", "b001", "b003", "b005", "b007"]
    assert silver["b005"]["timestamp"] == "2024-02-01 09:00:00"


def test_batch_key_filter_value_stays_a_literal(spark):
    """A ``batch_end`` holding a quote selects exactly the docs whose
    interval end equals it; it is compared as a value, never read as SQL."""
    raw = _bronze(spark)
    assert [r["_id"] for r in transform_stage(raw, batch_end="it's 10:20").collect()] == [
        "b007"
    ]
    assert transform_stage(raw, batch_end="x' OR '1' = '1").count() == 0


def test_dedupe_keep_first_quotes_key_names(spark):
    """Keys and order columns that need quoting in SQL text — a reserved
    word, a nested path, a top-level name holding a dot and one holding a
    backtick — name the same columns as in ``F.col``, with the same plan
    and survivors as the Column-built window."""
    df = spark.createDataFrame(
        [
            ((1, (1,)), 1, 10, "a", 3),
            ((1, (1,)), 1, 10, "b", 1),
            ((1, (2,)), 1, 10, "c", 2),
            ((2, (1,)), 1, 20, "d", 5),
            ((2, (1,)), 2, 20, "e", 4),
        ],
        "`end` struct<`order`: int, `a`: struct<`b`: int>>, `x.y` int, "
        "`we``ird` int, `_id` string, `o.k` int",
    )
    for keys, order in [
        (["end.order", "end.a.b"], None),
        (["`x.y`", "`we``ird`"], ["`o.k`"]),
        (["end"], ["`o.k`", "_id"]),
    ]:
        got = dedupe_keep_first(df, keys, order_by=order)
        want = _reference_dedupe_keep_first(df, keys, order_by=order)
        assert got.sameSemantics(want), keys
        assert _rows(got) == _rows(want), keys
    assert _sql_name("end.a.b") == "`end`.`a`.`b`"
    assert _sql_name("`x.y`") == "`x.y`"
    assert _sql_name("`we``ird`.`a b`") == "`we``ird`.`a b`"
    for bad in ["", "a..b", "a.", "`a", "`a`b", "a`b`"]:
        with pytest.raises(ValueError):
            _sql_name(bad)


def _plan_shape(df):
    """The optimized plan's operators, top-down, without their arguments."""
    tree = df._jdf.queryExecution().optimizedPlan().toString()
    return [re.match(r"[\s:|+\-]*(\w+)", line).group(1) for line in tree.splitlines()]


def test_daily_recap_matches_column_form(spark):
    """The SQL-text recap lands the same docs, in the same schema, as its
    Column-built form, through an optimized plan of the same shape (the
    lambda variables' names differ, so the plans are not compared
    expression by expression)."""
    for silver in (silver_fixture(spark), _edge_case_silver(spark)):
        got, want = daily_recap(silver), _reference_daily_recap(silver)
        assert got.schema == want.schema == DAILY_RECAP
        assert _plan_shape(got) == _plan_shape(want)
        assert _rows(got) == _rows(want)


def _round_trips(spark, build) -> int:
    """py4j commands sent while ``build()`` runs, leaving out the deletes of
    Python proxies that the garbage collector releases meanwhile."""
    client = spark.sparkContext._gateway._gateway_client
    real, sent = client.send_command, []

    def counting(command, *a, **kw):
        sent.append(command)
        return real(command, *a, **kw)

    client.send_command = counting
    try:
        build()
    finally:
        client.send_command = real
    return sum(1 for c in sent if not c.startswith("m\n"))


def test_hot_plans_bound_jvm_round_trips(spark):
    """Building the tick's transform and the day's recap takes a bounded
    number of JVM round trips (about 40 each; built from Columns they took
    about 640, and the recap about 1,500 on its first call in a process).
    An ``F.*`` chain in either plan costs about 10 per call and fails this."""
    raw, silver = bronze_fixture(spark), silver_fixture(spark)
    assert _round_trips(spark, lambda: transform_stage(raw)) <= 50
    assert _round_trips(spark, lambda: daily_recap(silver)) <= 50
