"""Golden tests pinning the reference's pipeline semantics (SURVEY §7.2).

Each test cites the reference behavior it pins (file:line into
/root/reference)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from etl_weather_jabar_spark.operators.aggregates import daily_recap
from etl_weather_jabar_spark.plans.pipelines import recap_stage, transform_stage

from .fixtures import bronze_fixture, silver_fixture


def test_transform_dedups_keep_first(spark):
    """A3: survivor of duplicate (location.id, dag_times.end) is the lowest
    _id (transform_raw_weather.py:92-97 deletes ids[1:])."""
    silver = transform_stage(bronze_fixture(spark))
    rows = {r["_id"]: r for r in silver.collect()}
    assert "b001" in rows and "b002" not in rows
    assert rows["b001"]["temp_c"] == 30.0


def test_transform_rejects_null_location(spark):
    """P7: rows with missing location.id dropped
    (transform_raw_weather.py:33-35)."""
    ids = {r["_id"] for r in transform_stage(bronze_fixture(spark)).collect()}
    assert "b004" not in ids


def test_transform_history_uses_logical_date(spark):
    """F8: history rows take dag_times.logical_date as event time
    (transform_raw_weather.py:29-32)."""
    rows = {r["_id"]: r for r in transform_stage(bronze_fixture(spark)).collect()}
    assert rows["b005"]["timestamp"] == "2024-02-01 09:00:00"
    assert rows["b005"]["hour"] == "09"
    assert rows["b006"]["timestamp"] == "2024-02-01 10:10:00"


def test_transform_batch_key_filter(spark):
    """ST2: only the requested interval's rows processed
    (transform_raw_weather.py:112-117)."""
    silver = transform_stage(bronze_fixture(spark), batch_end="2024-02-01 10:00:00")
    ids = {r["_id"] for r in silver.collect()}
    assert ids == {"b001", "b003"}


def test_transform_17_column_shape(spark):
    """P1: the Silver projection is the 17-field flat row
    (transform_raw_weather.py:36-58) + lineage _id."""
    cols = transform_stage(bronze_fixture(spark)).columns
    assert cols == [
        "_id", "timestamp", "date", "hour", "minute", "location_id",
        "location_name", "lat", "lon", "temp_c", "feelslike_c", "humidity",
        "wind_kph", "wind_dir", "wind_degree", "precip_mm", "is_day", "uv",
        "cloud", "condition",
    ]


def _recap_hours(spark):
    out = recap_stage(silver_fixture(spark)).collect()
    assert len(out) == 1
    doc = out[0]
    return doc, {h["hour"]: h for h in doc["hourly"]}


def test_recap_hour_aggregates(spark):
    """A4/A5: avg rounded 2dp, min/max (daily_compile_weather.py:71-75)."""
    _, hours = _recap_hours(spark)
    h8 = hours["08"]
    assert h8["temp_avg"] == 32.0
    assert h8["temp_min"] == 30.0 and h8["temp_max"] == 34.0
    assert h8["precip_mm"] == 3.5


def test_recap_empty_measures_sum_zero_avg_null(spark):
    """A8: sum of an all-null hour is 0.0 while avg/min/max stay null
    (daily_compile_weather.py:71-78)."""
    _, hours = _recap_hours(spark)
    h9 = hours["09"]
    assert h9["precip_mm"] == 0.0
    assert h9["temp_avg"] is None
    assert h9["temp_min"] is None
    assert h9["dominant_wind_dir"] is None


def test_recap_mode_first_seen_tiebreak(spark):
    """A6: wind mode ties broken by first occurrence in minute order
    (statistics.mode semantics, daily_compile_weather.py:76)."""
    _, hours = _recap_hours(spark)
    assert hours["08"]["dominant_wind_dir"] == "NE"  # NE@:00 beats SW@:10, 2-2


def test_recap_minute_grid_null_fill(spark):
    """J4: missing 10-min slots appear as all-null minute docs
    (daily_compile_weather.py:34-58)."""
    _, hours = _recap_hours(spark)
    points = {p["minute"]: p for p in hours["08"]["data_points"]}
    assert sorted(points) == ["00", "10", "20", "30", "40", "50"]
    assert points["30"]["temp"] is None and points["30"]["wind_dir"] is None
    assert points["40"]["temp"] == 33.0


def test_recap_skips_empty_hours_and_flags_incomplete_day(spark):
    """Hours with no rows are skipped (daily_compile_weather.py:123-124);
    full_recap False when hour 23 absent (:114-115), stamped on every hour
    row (W2)."""
    doc, hours = _recap_hours(spark)
    assert sorted(hours) == ["08", "09"]  # only observed hours present
    assert all(h["full_recap"] is False for h in doc["hourly"])


def test_recap_full_day_flag_true(spark):
    """full_recap True when hour 23 present, for every hour row."""
    silver = silver_fixture(spark)
    extra = silver.limit(1).withColumn("hour", F.lit("23")).withColumn(
        "timestamp", F.lit("2024-02-01 23:00:00")
    ).withColumn("_id", F.lit("s2300"))
    doc = daily_recap(silver.unionByName(extra)).collect()[0]
    assert {h["hour"] for h in doc["hourly"]} == {"08", "09", "23"}
    assert all(h["full_recap"] is True for h in doc["hourly"])


def test_recap_hourly_sorted(spark):
    """A9/§2.6: hourly array ordered by hour, data_points by minute."""
    doc, _ = _recap_hours(spark)
    hrs = [h["hour"] for h in doc["hourly"]]
    assert hrs == sorted(hrs)


def _three_branch_recap(obs):
    """The recap as it was built before the single grouped pass: hourly
    aggregates ⋈ deterministic wind mode ⋈ grid-aligned data_points, a day
    window for full_recap, then the nested regroup. Kept here as the
    reference the engine's form is checked against."""
    from pyspark.sql import Window

    from etl_weather_jabar_spark.operators.aggregates import deterministic_mode
    from etl_weather_jabar_spark.operators.joins import grid_align, minute_grid

    keys = ["date", "location_id", "hour"]
    # the name of the station-day's latest named row, the greatest on a tie
    named = F.when(F.col("location_name").isNotNull(), F.struct("timestamp", "location_name"))
    names = obs.groupBy("date", "location_id").agg(
        F.max(named)["location_name"].alias("location_name"))
    hours = obs.groupBy("date", "location_id", "hour").agg(
        F.round(F.avg("temp_c"), 2).alias("temp_avg"),
        F.min("temp_c").alias("temp_min"),
        F.max("temp_c").alias("temp_max"),
        F.round(F.avg("humidity"), 2).alias("humidity_avg"),
        F.round(F.avg("wind_kph"), 2).alias("wind_avg_kph"),
        F.coalesce(F.sum("precip_mm"), F.lit(0.0)).alias("precip_mm"),
    )
    mode = deterministic_mode(
        obs, keys, value_col="wind_dir", order_col="minute",
        out_col="dominant_wind_dir",
    )
    aligned = grid_align(
        obs.select(
            "date", "location_id", "hour", "minute",
            F.col("temp_c").alias("temp"), "humidity", "wind_kph",
            "wind_dir", "precip_mm",
        ),
        minute_grid(obs.sparkSession),
        group_keys=keys,
    )
    points = aligned.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(
                F.struct("minute", "temp", "humidity", "wind_kph", "wind_dir", "precip_mm")
            )
        ).alias("data_points")
    )
    hourly = hours.join(mode, on=keys, how="left").join(points, on=keys, how="left")
    hourly = hourly.withColumn(
        "full_recap",
        F.max(F.col("hour") == F.lit("23")).over(Window.partitionBy("date", "location_id")),
    )
    return hourly.join(names, ["date", "location_id"]).groupBy(
        "date", "location_id", "location_name").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "hour", "full_recap", "temp_avg", "temp_min", "temp_max",
                    "humidity_avg", "wind_avg_kph", "dominant_wind_dir",
                    "precip_mm", "data_points",
                )
            )
        ).alias("hourly")
    )


def _edge_case_silver(spark):
    """Silver rows for 3 stations × 2 days: generated slots with about 10%
    missing, plus planted cases — an all-null-measure hour, wind_dir count
    ties across minutes and inside one duplicated slot, an off-grid minute,
    an hour holding only an off-grid row, and days with and without hour
    23. Measures are multiples of 0.25, so every sum is exact whatever
    order it is taken in."""
    import random

    from etl_weather_jabar_spark.schemas import WEATHER_DATA

    rng = random.Random(2)
    dirs = ["N", "NE", "E", "SE", "S", "SW"]
    rows = []

    def row(date, loc, hour, minute, temp, hum, wind, wdir, precip, n=0):
        rows.append({
            "_id": f"{date}-{loc}-{hour}{minute}-{n}",
            "timestamp": f"{date} {hour}:{minute}:00",
            "date": date, "hour": hour, "minute": minute,
            "location_id": loc, "location_name": f"LOC_{loc}",
            "lat": -6.9, "lon": 107.6, "temp_c": temp, "feelslike_c": temp,
            "humidity": hum, "wind_kph": wind, "wind_dir": wdir,
            "wind_degree": 45, "precip_mm": precip, "is_day": 1, "uv": 5.0,
            "cloud": 40, "condition": "Sunny",
        })

    def maybe(v):
        return None if rng.random() < 0.1 else v

    for date in ("2024-02-01", "2024-02-02"):
        for loc in (1, 2, 3):
            last = 23 if (loc + (date == "2024-02-02")) % 2 else 21
            for h in range(6, last + 1):
                for m in range(0, 60, 10):
                    if rng.random() < 0.1:
                        continue  # missing slot
                    row(
                        date, loc, f"{h:02d}", f"{m:02d}",
                        maybe(rng.randrange(80, 140) / 4), maybe(rng.randrange(60, 100)),
                        maybe(rng.randrange(0, 80) / 4), maybe(rng.choice(dirs)),
                        maybe(rng.choice([0.0, 0.0, 0.25, 1.5, 3.75])),
                    )
    d, loc = "2024-02-01", 9
    # hour 03: measures all null -> precip 0.0, avg/min/max/mode null
    row(d, loc, "03", "00", None, None, None, None, None)
    row(d, loc, "03", "20", None, None, None, None, None)
    # hour 04: SW (first at :10) and NE tie 2-2 across minutes -> SW
    for m, w in (("00", "N"), ("10", "SW"), ("20", "NE"), ("30", "NE"), ("40", "SW")):
        row(d, loc, "04", m, 25.5, 70, 5.25, w, 0.25)
    # hour 05: a duplicated :20 slot with NE and E, then E again at :30;
    # the tie inside the slot (NE vs E, both first seen at :20) -> E by count
    row(d, loc, "05", "20", 26.0, 71, 6.0, "NE", 0.0)
    row(d, loc, "05", "20", 26.5, 72, 6.5, "E", 0.5, n=1)
    row(d, loc, "05", "30", 27.0, 73, 7.0, "E", 0.0)
    row(d, loc, "05", "40", 27.0, 73, 7.0, "NE", 0.0)
    # hour 06: a tie inside one slot only (S vs E at :00) -> E (value order)
    row(d, loc, "06", "00", 24.0, 70, 4.0, "S", 0.0)
    row(d, loc, "06", "00", 24.5, 70, 4.0, "E", 0.0, n=1)
    # hour 07: an off-grid :05 row next to an on-grid one; hour 08: off-grid only
    row(d, loc, "07", "05", 30.25, 90, 9.0, "W", 2.0)
    row(d, loc, "07", "10", 29.75, 88, 8.0, "W", 1.0)
    row(d, loc, "08", "05", 31.0, 91, 9.5, "NW", 0.5)
    return spark.createDataFrame(rows, WEATHER_DATA)


def test_recap_single_pass_matches_three_branch_form(spark):
    """The single grouped pass builds the same Gold docs as the old
    three-branch plan, doc for doc."""
    silver = _edge_case_silver(spark)

    def docs(df):
        return {
            (r["date"], r["location_id"]): r.asDict(recursive=True)
            for r in df.collect()
        }

    got, want = docs(daily_recap(silver)), docs(_three_branch_recap(silver))
    assert len(want) == 7
    assert got == want
    planted = {h["hour"]: h for h in got[("2024-02-01", 9)]["hourly"]}
    assert sorted(planted) == ["03", "04", "05", "06", "07", "08"]
    assert planted["03"]["precip_mm"] == 0.0 and planted["03"]["temp_avg"] is None
    assert [planted[h]["dominant_wind_dir"] for h in ("04", "05", "06")] == ["SW", "E", "E"]
    assert [p["minute"] for p in planted["05"]["data_points"]] == [
        "00", "10", "20", "20", "30", "40", "50",
    ]
    assert all(p["temp"] is None for p in planted["08"]["data_points"])
    fulls = {k: doc["hourly"][0]["full_recap"] for k, doc in got.items()}
    assert set(fulls.values()) == {True, False}


def test_recap_schema_matches_gold_schema(spark):
    """The recap's schema is DAILY_RECAP, nullability included; Silver
    read back from parquet (every column nullable) gives the same nested
    hourly type."""
    from etl_weather_jabar_spark.schemas import DAILY_RECAP, WEATHER_DATA

    assert daily_recap(silver_fixture(spark)).schema == DAILY_RECAP
    nullable = spark.createDataFrame(
        [], StructType([StructField(f.name, f.dataType, True) for f in WEATHER_DATA])
    )
    assert daily_recap(nullable).schema["hourly"] == DAILY_RECAP["hourly"]


def test_json_size_observability(spark):
    """F12: raw + gzipped JSON size of recap documents (the reference's
    debug_measure_size_json.py numbers, computed distributed)."""
    from pyspark.sql import functions as F

    from etl_weather_jabar_spark.functions.observability import (
        gzipped_size_bytes,
        json_size_bytes,
    )

    df = spark.createDataFrame(
        [(1, "a" * 1000), (2, "xyz")], ["id", "payload"]
    )
    out = {
        r["id"]: (r["raw"], r["gz"])
        for r in df.select(
            "id",
            json_size_bytes("id", "payload").alias("raw"),
            gzipped_size_bytes("id", "payload").alias("gz"),
        ).collect()
    }
    raw1, gz1 = out[1]
    raw2, gz2 = out[2]
    assert raw1 > 1000 and raw2 < 50          # raw tracks content size
    assert gz1 < raw1                          # repetitive text compresses
    assert gz2 > 0
    # deterministic across runs
    again = df.select(gzipped_size_bytes("id", "payload").alias("gz")).collect()
    assert sorted(r["gz"] for r in again) == sorted((gz1, gz2))


def test_recap_to_snapshot_carries_untouched_days_by_name(spark, tmp_path):
    """ST5 data-driven: new Silver rows for day 2 rebuild ONLY day 2's
    Gold docs; day 1's Gold files are carried forward by name (same
    names, same mtimes), and the table equals a from-scratch recap."""
    import json
    import os

    from etl_weather_jabar_spark.plans.pipelines import recap_to_snapshot
    from etl_weather_jabar_spark.snapshots import snapshot_read

    def shifted(hour):
        return (
            silver_fixture(spark)
            .withColumn("date", F.lit("2024-02-02"))
            .withColumn(
                "timestamp",
                F.regexp_replace("timestamp", "2024-02-01", "2024-02-02"),
            )
            .where(F.col("hour") == hour)
        )

    def files(table):
        mdir = os.path.join(table, "_manifests")
        with open(os.path.join(mdir, sorted(os.listdir(mdir))[-1])) as f:
            names = json.load(f)["files"]
        return {
            n: os.path.getmtime(os.path.join(table, "data", n)) for n in names
        }

    gold = str(tmp_path / "gold")
    day1 = silver_fixture(spark)
    recap_to_snapshot(day1, day1, gold)
    day1_files = files(gold)
    day2_08, day2_09 = shifted("08"), shifted("09")
    silver_v1 = day1.unionByName(day2_08)
    recap_to_snapshot(silver_v1, day2_08, gold)
    silver_v2 = silver_v1.unionByName(day2_09)
    recap_to_snapshot(silver_v2, day2_09, gold)

    now = files(gold)
    assert {n: now[n] for n in day1_files if n in now} == day1_files
    got = snapshot_read(spark, gold)
    assert got.where(F.col("date") == "2024-02-02").select(
        F.explode("hourly").alias("h")
    ).select("h.hour").distinct().count() == 2  # hours 08 + 09 now present
    # equals a from-scratch recap of all of Silver
    full = str(tmp_path / "gold_full")
    recap_to_snapshot(silver_v2, silver_v2, full)

    def docs(table):
        return sorted(
            repr(r.asDict(recursive=True))
            for r in snapshot_read(spark, table).collect()
        )

    assert docs(gold) == docs(full)


def test_haversine_and_nearest_station(spark):
    """haversine_km against a pure-Python replay (same formula, same
    radius) and nearest_station against brute-force argmin; the plan must
    broadcast the station dim and contain exactly one aggregation."""
    import math

    from etl_weather_jabar_spark.functions.weather import haversine_km
    from etl_weather_jabar_spark.operators.joins import nearest_station

    # Jabar-like coordinates: Bandung, Bogor, Bekasi, Cirebon
    stations = [
        (1, -6.9175, 107.6191),
        (2, -6.5971, 106.8060),
        (3, -6.2383, 106.9756),
        (4, -6.7320, 108.5523),
    ]
    points = [
        (10, -6.90, 107.60),   # ~Bandung
        (11, -6.60, 106.80),   # ~Bogor
        (12, -6.45, 107.90),   # between, nearer Bandung
        (13, -6.73, 108.55),   # ~Cirebon (near-exact)
    ]

    def py_hav(a, b, c, d):
        R = 6371.0088
        p1, p2 = math.radians(a), math.radians(c)
        dphi = math.radians(c - a) / 2
        dl = math.radians(d - b) / 2
        h = math.sin(dphi) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl) ** 2
        return 2 * R * math.asin(math.sqrt(h))

    sdf = spark.createDataFrame(stations, ["station_id", "lat", "lon"])
    pdf = spark.createDataFrame(points, ["point_id", "lat", "lon"])

    # column function matches the python replay to float precision
    got_d = {
        r["point_id"]: r["d"]
        for r in pdf.crossJoin(
            sdf.selectExpr(
                "station_id AS s", "lat AS slat", "lon AS slon"
            ).where(F.col("s") == 1)
        )
        .select(
            "point_id",
            haversine_km(
                F.col("lat"), F.col("lon"), F.col("slat"), F.col("slon")
            ).alias("d"),
        )
        .collect()
    }
    for pid, plat, plon in points:
        want = py_hav(plat, plon, stations[0][1], stations[0][2])
        assert abs(got_d[pid] - want) < 1e-9

    out = nearest_station(pdf, sdf)
    got = {r["point_id"]: r["nearest_station_id"] for r in out.collect()}
    want = {
        pid: min(
            stations, key=lambda s: (py_hav(plat, plon, s[1], s[2]), s[0])
        )[0]
        for pid, plat, plon in points
    }
    assert got == want == {10: 1, 11: 2, 12: 1, 13: 4}
    dists = {r["point_id"]: r["distance_km"] for r in out.collect()}
    assert dists[13] < 1.0  # near-exact station hit

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_recap_to_snapshot_idempotent_merge(spark, tmp_path):
    """Gold recap merged into the transactional snapshot table: one
    atomic version per run, keyed (date, location_id) upsert semantics,
    and a replay of the same batch converges to the same table state."""
    from etl_weather_jabar_spark.plans.pipelines import recap_to_snapshot
    from etl_weather_jabar_spark.snapshots import (
        snapshot_history,
        snapshot_read,
    )
    from tests.fixtures import silver_fixture

    silver = silver_fixture(spark)
    gold = str(tmp_path / "gold")

    v1 = recap_to_snapshot(silver, silver, gold)
    assert v1 == 1
    t1 = snapshot_read(spark, gold)
    keys1 = {
        (r["date"], r["location_id"]) for r in t1.select(
            "date", "location_id"
        ).collect()
    }
    rows1 = sorted(map(tuple, t1.drop("hourly").collect()))

    # replay: same input -> same state, one more version
    v2 = recap_to_snapshot(silver, silver, gold)
    assert v2 == 2
    t2 = snapshot_read(spark, gold)
    assert sorted(map(tuple, t2.drop("hourly").collect())) == rows1
    assert {
        (r["date"], r["location_id"]) for r in t2.select(
            "date", "location_id"
        ).collect()
    } == keys1
    assert [h["version"] for h in snapshot_history(gold)] == [1, 2]


def test_recap_one_doc_per_station_day_across_a_rename(spark, tmp_path):
    """A9: one Gold doc per (date, location_id), the merge's key. A day
    whose rows carry two names (hours 08 and 10 as "Bandung", 09 and 11
    as "Kota Bandung") gives one doc holding every hour, named by the
    day's latest row; a replay leaves the same table."""
    from etl_weather_jabar_spark.plans.pipelines import recap_to_snapshot
    from etl_weather_jabar_spark.snapshots import snapshot_read

    base = silver_fixture(spark).limit(1)
    silver = None
    for hour, name in (("08", "Bandung"), ("09", "Kota Bandung"),
                       ("10", "Bandung"), ("11", "Kota Bandung")):
        part = (base.withColumn("hour", F.lit(hour))
                .withColumn("timestamp", F.lit(f"2024-02-01 {hour}:00:00"))
                .withColumn("_id", F.lit(f"r{hour}"))
                .withColumn("location_name", F.lit(name)))
        silver = part if silver is None else silver.unionByName(part)
    docs = daily_recap(silver).collect()
    assert len(docs) == 1
    assert docs[0]["location_name"] == "Kota Bandung"
    assert [h["hour"] for h in docs[0]["hourly"]] == ["08", "09", "10", "11"]

    gold = str(tmp_path / "gold")

    def table():
        return sorted(repr(r.asDict(recursive=True))
                      for r in snapshot_read(spark, gold).collect())

    recap_to_snapshot(silver, silver, gold)
    first = table()
    assert len(first) == 1 and "'hour': '11'" in first[0]
    recap_to_snapshot(silver, silver, gold)
    assert table() == first


def test_recap_to_snapshot_job_shape(spark, tmp_path, monkeypatch):
    """A recap day new to Gold, onto a new table and onto a table holding
    another day, runs 4 Spark jobs — two for the dates collect, the
    recap's groupBy map stage and the write — and its write holds no
    Window: the merge writes the recap as an upsert set, once. A replayed
    day runs at most 7 jobs, and its rewrite of the hot file keeps the
    keep-last Window. Jobs are counted through a job group and the
    status tracker; the Windows on the written plans."""
    import etl_weather_jabar_spark.snapshots as snap
    from etl_weather_jabar_spark.plans.pipelines import recap_to_snapshot

    written, real = [], snap._write_data_files

    def capture(df, *a, **kw):
        written.append(df)
        return real(df, *a, **kw)

    monkeypatch.setattr(snap, "_write_data_files", capture)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    sc = spark.sparkContext

    def jobs(new, tag):
        sc.setJobGroup(tag, tag)
        try:
            recap_to_snapshot(silver, new, gold)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    day1 = silver_fixture(spark)
    day2 = (day1.withColumn("date", F.lit("2024-02-02"))
            .withColumn("timestamp", F.regexp_replace("timestamp", "2024-02-01", "2024-02-02")))
    silver = day1.unionByName(day2)
    gold = str(tmp_path / "gold")
    tag = f"recap-{tmp_path.name}"
    assert jobs(day1, f"{tag}-1") == 4
    assert jobs(day2, f"{tag}-2") == 4
    assert jobs(day2, f"{tag}-3") <= 7
    # each new day writes once; the replay writes its rows, then the rewrite
    assert len(written) == 4
    for df in written[:3]:
        assert "Window" not in plan(df), plan(df)
    assert "Window" in plan(written[3])


def test_commit_internals_are_module_globals(spark, tmp_path, monkeypatch):
    """perfbench's trace wraps ``snapshots._write_data_files`` and
    ``snapshots._publish``, and tests patch ``_file_stats``: each must be
    looked up as a module global at call time. One recap day and one
    ``snapshot_write`` each reach every patched function exactly once."""
    import etl_weather_jabar_spark.snapshots as snap
    from etl_weather_jabar_spark.plans.pipelines import recap_to_snapshot

    calls: list[str] = []
    for name in ("_write_data_files", "_file_stats", "_publish"):
        def counted(*a, _name=name, _real=getattr(snap, name), **kw):
            calls.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(snap, name, counted)

    silver = silver_fixture(spark)
    recap_to_snapshot(silver, silver, str(tmp_path / "gold"))
    assert sorted(calls) == ["_file_stats", "_publish", "_write_data_files"]
    calls.clear()
    snap.snapshot_write(
        spark.createDataFrame([(1, "a")], ["k", "v"]),
        str(tmp_path / "t"),
        stats_cols=["k"],
    )
    assert sorted(calls) == ["_file_stats", "_publish", "_write_data_files"]
