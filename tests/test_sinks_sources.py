"""Tests for sinks (S5-S9 semantics), JSON source (S3), quarantine (P10),
and the ST3 backfill union."""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import functions as F

from etl_weather_jabar_spark.plans.pipelines import backfill_union
from etl_weather_jabar_spark.sinks import (
    append,
    append_dedup_keyed,
    overwrite,
)
from etl_weather_jabar_spark.sources.jsonsrc import read_master_location

from .fixtures import _raw_row, bronze_fixture


def test_append_and_overwrite(spark):
    df = spark.range(5).select(F.col("id"))
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/t"
        append(df, p)
        append(df, p)
        assert spark.read.parquet(p).count() == 10
        overwrite(df, p)  # S8 truncate-and-reload
        assert spark.read.parquet(p).count() == 5


def test_append_dedup_keyed_unique_index_semantics(spark):
    """ST4/S9: the unique-(location_id,timestamp) index becomes dedup-on-
    write — replays and overlapping batches insert nothing twice."""
    rows = [("a", 1, "t1", 1.0), ("b", 1, "t1", 2.0), ("c", 2, "t1", 3.0)]
    df = spark.createDataFrame(rows, ["_id", "location_id", "timestamp", "v"])
    with tempfile.TemporaryDirectory() as d:
        p = f"{d}/silver"
        append_dedup_keyed(df, p, keys=["location_id", "timestamp"])
        got = spark.read.parquet(p)
        assert got.count() == 2  # in-batch dup collapsed, survivor lowest _id
        assert {r["_id"] for r in got.collect()} == {"a", "c"}
        # replay the same batch → idempotent
        append_dedup_keyed(df, p, keys=["location_id", "timestamp"])
        assert spark.read.parquet(p).count() == 2
        # new key appends
        extra = spark.createDataFrame(
            [("d", 3, "t1", 4.0)], ["_id", "location_id", "timestamp", "v"]
        )
        append_dedup_keyed(extra, p, keys=["location_id", "timestamp"])
        assert spark.read.parquet(p).count() == 3


def test_append_dedup_keyed_unreadable_sink_raises(spark, tmp_path):
    """A sink that exists but cannot be read raises instead of being
    taken for a first write (which would append without dedup), and
    nothing is appended; a sink holding no data file is a first write."""
    import pytest
    from py4j.protocol import Py4JJavaError

    keys = ["location_id", "timestamp"]
    df = spark.createDataFrame(
        [("a", 1, "t1", 1.0)], ["_id", "location_id", "timestamp", "v"]
    )
    p = str(tmp_path / "silver")
    os.makedirs(os.path.join(p, "_temporary"))
    open(os.path.join(p, "_SUCCESS"), "w").close()
    append_dedup_keyed(df, p, keys=keys)  # no data file yet: first write
    assert spark.read.parquet(p).count() == 1

    with open(os.path.join(p, "part-zzzzz.snappy.parquet"), "wb") as f:
        f.write(b"PAR1 this is not parquet PAR1")

    def data_files():
        return sorted(f for f in os.listdir(p) if not f.startswith(("_", ".")))

    before = data_files()
    new_key = spark.createDataFrame(
        [("b", 2, "t1", 2.0)], ["_id", "location_id", "timestamp", "v"]
    )
    with pytest.raises(Py4JJavaError, match="part-zzzzz"):
        append_dedup_keyed(new_key, p, keys=keys)
    assert data_files() == before


def _reference_append_dedup_keyed(df, path, keys, order_col="_id"):
    """The keyed append before footer pruning: every batch is anti-joined
    against the key columns of every sink file."""
    from etl_weather_jabar_spark.operators.dedup import dedupe_keep_first
    from etl_weather_jabar_spark.sinks import _data_files

    batch = dedupe_keep_first(df, keys, order_by=[order_col])
    if not _data_files(path):
        batch.write.mode("append").parquet(path)
        return
    existing = df.sparkSession.read.parquet(path).select(*keys)
    batch.join(existing, on=keys, how="left_anti").write.mode("append").parquet(path)


def _differential_appends(spark, tmp_path, monkeypatch, schema, keys, steps):
    """Run ``steps`` through the pruned keyed append and the reference on
    two sinks and require equal rows after each step. A step is
    ``("batch", rows, want_hot)`` — ``want_hot`` names the sink files the
    pruned append must read: ``"B<i>"`` for the files written by batch
    ``i`` (1-based), or a pyarrow file's name — or ``("file", name,
    write)``, where ``write(path)`` puts one pyarrow file into a sink.
    A list of rows is one partition, so its batch lands one file; pass a
    DataFrame for any other partitioning.
    The reference sink's schema is inferred from its first file by name,
    a Spark-written ``part-0…`` file, so pyarrow files are named after it."""
    from pyspark.sql import DataFrame

    import etl_weather_jabar_spark.sinks as sinks

    new, ref = str(tmp_path / "new"), str(tmp_path / "ref")
    seen = []
    real = sinks._hot_files

    def spy(*a):
        hot = real(*a)
        seen.append({os.path.basename(f) for f in hot})
        return hot

    monkeypatch.setattr(sinks, "_hot_files", spy)
    label, n_batch = {}, 0
    for kind, data, arg in steps:
        if kind == "file":
            for p in (new, ref):
                os.makedirs(p, exist_ok=True)
                arg(os.path.join(p, data))
            label[data] = {data}
            continue
        n_batch += 1
        before = {os.path.basename(f) for f in sinks._data_files(new)}
        seen.clear()
        if isinstance(data, DataFrame):
            df = data
        else:
            df = spark.createDataFrame(data, schema).coalesce(1)
        sinks.append_dedup_keyed(df, new, keys=keys)
        _reference_append_dedup_keyed(df, ref, keys=keys)
        if arg is not None:
            assert seen == [set().union(*(label[x] for x in arg))], (n_batch, seen, label)
        label[f"B{n_batch}"] = {os.path.basename(f) for f in sinks._data_files(new)} - before

        def rows(p):
            got = spark.read.schema(schema).parquet(p).collect()
            return sorted((tuple(r) for r in got), key=repr)

        assert rows(new) == rows(ref), n_batch
    return label


def test_append_dedup_keyed_matches_full_sink_antijoin(spark, tmp_path, monkeypatch):
    """The footer-pruned keyed append lands the same rows as the old
    full-sink anti-join on a (long, string) key, through a disjoint tick
    (no file read), collisions in one and in several files, keys on a
    file's lo and hi, non-ASCII keys, NULL key components, in-batch
    duplicates, a two-row-group file, a stats-less file, pyarrow files
    with no Spark schema, a file lacking a key column and a replay that
    makes every file hot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = "_id string, location_id long, timestamp string, v double"
    arrow = pa.schema([("_id", pa.string()), ("location_id", pa.int64()),
                       ("timestamp", pa.string()), ("v", pa.float64())])

    def pyarrow_file(rows, **kw):
        cols = list(zip(*rows))
        t = pa.table({f.name: list(c) for f, c in zip(arrow, cols)}, schema=arrow)
        return lambda p: pq.write_table(t, p, **kw)

    def nokey_file(p):  # lacks the timestamp key column
        pq.write_table(pa.table({"_id": ["k1"], "location_id": pa.array([10], pa.int64()),
                                 "v": [0.5]}), p)

    b1 = [("a1", 1, "t100", 1.0), ("a2", 2, "t100", 2.0), ("a3", 3, "t100", 3.0),
          ("a4", 1, "t110", 4.0), ("a6", 2, "t110", 5.0), ("a5", 2, "t110", 5.5),
          ("a7", 3, "t110", 6.0), ("a8", None, "t100", 7.0), ("a9", 2, None, 8.0)]
    b2 = [("b1", 1, "t200", 1.0), ("b2", 2, "t200", 2.0), ("b3", 3, "t210", 3.0),
          ("b4", 5, "t2ü0", 4.0)]
    b3 = [("c1", 2, "t110", 1.0), ("c2", 3, "t300", 2.0), ("c3", None, "t300", 3.0),
          ("c4", 10, "t700", 4.0)]
    b4 = [("d1", 1, "t100", 1.0), ("d2", 5, "t2ü0", 2.0), ("d3", 3, "t300", 3.0),
          ("d4", 8, "t530", 4.0), ("d5", 9, "t600", 5.0), ("d7", 6, "t400", 6.0),
          ("d6", 6, "t400", 6.5), ("d8", 6, None, 7.0)]
    always = ["part-p-nostats.parquet", "part-p-nokey.parquet"]
    _differential_appends(spark, tmp_path, monkeypatch, schema, ["location_id", "timestamp"], [
        ("batch", b1, None),  # first write
        ("batch", b2, []),  # disjoint: no file is read
        ("file", "part-p-multi.parquet",
         pyarrow_file([("m1", 7, "t500", 0.0), ("m2", 7, "t510", 0.0),
                       ("m3", 8, "t520", 0.0), ("m4", 8, "t530", 0.0)], row_group_size=2)),
        ("file", always[0], pyarrow_file([("n1", 9, "t600", 0.0)], write_statistics=False)),
        ("file", always[1], nokey_file),
        ("batch", b3, ["B1", *always]),  # collides inside one file
        # lo/lo of B1, non-ASCII hi/hi of B2, B3, the multi-row-group
        # file's second row group, and the stats-less file's key
        ("batch", b4, ["B1", "B2", "B3", "part-p-multi.parquet", *always]),
        ("batch", b4, ["B1", "B2", "B3", "B4", "part-p-multi.parquet", *always]),
    ])


def test_append_dedup_keyed_matches_full_sink_antijoin_date_key(
    spark, tmp_path, monkeypatch
):
    """The same equality on a (date, long) key: a disjoint day reads no
    file, keys on lo and hi read exactly the files they hit, a replay
    reads every file. With Spark's listing-job threshold at one path,
    two hot files already make the append read the whole sink."""
    import datetime

    def d(day):
        return datetime.date(2024, 1, 1) + datetime.timedelta(days=day)

    schema = "_id string, day date, location_id long, v double"
    b1 = [("a1", d(0), 1, 1.0), ("a2", d(0), 2, 2.0), ("a3", d(1), 1, 3.0),
          ("a4", d(1), 2, 4.0)]
    b2 = [("b1", d(30), 1, 1.0), ("b2", d(30), 2, 2.0)]
    b3 = [("c1", d(0), 1, 1.0), ("c2", d(30), 2, 2.0), ("c4", d(60), 3, 3.0),
          ("c3", d(60), 3, 3.5), ("c5", None, 1, 4.0)]
    threshold = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(threshold, "1")
    try:
        _differential_appends(spark, tmp_path, monkeypatch, schema, ["day", "location_id"], [
            ("batch", b1, None),
            ("batch", b2, []),
            ("batch", b3, ["B1", "B2"]),
            ("batch", b3, ["B1", "B2", "B3"]),
        ])
    finally:
        spark.conf.unset(threshold)


def test_append_dedup_keyed_unprunable_key_skips_staging(spark, tmp_path, monkeypatch):
    """A key type without exact footer stats (timestamp) anti-joins the
    whole sink without staging the batch, landing the same rows as the
    reference."""
    import datetime

    import etl_weather_jabar_spark.sinks as sinks

    def staged(*_a):
        raise AssertionError("the batch was staged")

    monkeypatch.setattr(sinks, "_hot_files", staged)

    def ts(m):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=m)

    schema = "_id string, ts timestamp, location_id long, v double"
    b1 = [("a1", ts(0), 1, 1.0), ("a2", ts(10), 1, 2.0), ("a3", ts(10), None, 3.0)]
    b2 = [("b2", ts(10), 1, 1.0), ("b1", ts(20), 1, 2.0), ("b0", ts(20), 1, 2.5)]
    _differential_appends(spark, tmp_path, monkeypatch, schema, ["ts", "location_id"], [
        ("batch", b1, None),
        ("batch", b2, None),
        ("batch", b2, None),
    ])
    assert not [f for f in os.listdir(tmp_path / "new") if f.startswith("_staging-")]


def test_append_dedup_keyed_repeated_keys_match_full_sink_antijoin(
    spark, tmp_path, monkeypatch
):
    """Staged keys that repeat are deduplicated keep-first after staging,
    landing the reference's rows: with no hot file, with NULL key
    components (equal to each other, as in the window), and across the
    files of a batch spanning several partitions. A batch of distinct new
    keys in several partitions lands one file per partition."""
    schema = "_id string, location_id long, timestamp string, v double"
    b1 = [("a1", 1, "t100", 1.0), ("a2", 2, "t100", 2.0)]
    # the survivor comes second in the batch
    b2 = [("b9", 5, "t500", 1.0), ("b1", 5, "t500", 2.0), ("b2", 6, "t500", 3.0)]
    b3 = [("c9", None, "t600", 1.0), ("c1", None, "t600", 2.0), ("c8", 7, None, 3.0),
          ("c2", 7, None, 4.0), ("c3", 7, "t600", 5.0)]
    multi = [(f"d{i}", 10 + i, "t700", float(i)) for i in range(6)]
    replay = [("e9", 10, "t700", 0.0), ("e1", 16, "t700", 0.0), ("e2", 16, "t700", 0.0),
              ("e0", 11, "t700", 0.0)]
    label = _differential_appends(
        spark, tmp_path, monkeypatch, schema, ["location_id", "timestamp"], [
            ("batch", b1, None),
            ("batch", b2, []),
            ("batch", b3, []),
            ("batch", spark.createDataFrame(multi, schema).repartition(3), []),
            ("batch", spark.createDataFrame(multi + replay, schema).repartition(2), ["B4"]),
        ])
    assert len(label["B4"]) > 1


def test_append_dedup_keyed_collated_key_skips_staging(spark, tmp_path, monkeypatch):
    """A UTF8_LCASE string key, whose equality is not Python's, anti-joins
    the whole sink without staging the batch, so "A" and "a" of one
    station are one key within the batch and against the sink."""
    import etl_weather_jabar_spark.sinks as sinks

    def staged(*_a):
        raise AssertionError("the batch was staged")

    monkeypatch.setattr(sinks, "_hot_files", staged)
    schema = "_id string, location_id long, name string collate UTF8_LCASE, v double"
    b1 = [("a1", 1, "x", 1.0)]
    b2 = [("b2", 2, "A", 1.0), ("b1", 2, "a", 2.0), ("b3", 1, "X", 3.0)]
    b3 = [("c1", 2, "a", 1.0), ("c2", 3, "Q", 2.0), ("c3", 4, "q", 3.0)]
    _differential_appends(spark, tmp_path, monkeypatch, schema, ["location_id", "name"], [
        ("batch", b1, None),
        ("batch", b2, None),
        ("batch", b3, None),
    ])
    assert not [f for f in os.listdir(tmp_path / "new") if f.startswith("_staging-")]
    got = spark.read.schema(schema).parquet(str(tmp_path / "new"))
    assert sorted(r["_id"] for r in got.collect()) == ["a1", "b1", "c2", "c3"]


def test_append_dedup_keyed_over_driver_guard_matches_full_sink_antijoin(
    spark, tmp_path, monkeypatch
):
    """Above the driver guard the staged keys are not compared on the
    driver: the batch is deduplicated and every file is hot; at or below
    it the same sink is pruned as usual."""
    import etl_weather_jabar_spark.snapshots as snapshots

    monkeypatch.setattr(snapshots, "_MAX_DRIVER_KEYS", 2)
    schema = "_id string, location_id long, timestamp string, v double"
    b1 = [("a1", 1, "t1", 1.0), ("a2", 2, "t1", 2.0), ("a0", 2, "t1", 3.0)]
    b2 = [("b1", 5, "t5", 1.0), ("b2", 6, "t5", 2.0), ("b3", 7, "t5", 3.0)]
    b3 = [("c2", 1, "t1", 1.0), ("c1", 8, "t8", 2.0)]
    b4 = [("d3", 5, "t5", 0.0), ("d2", 9, "t9", 0.0), ("d1", 9, "t9", 0.5)]
    _differential_appends(spark, tmp_path, monkeypatch, schema, ["location_id", "timestamp"], [
        ("batch", b1, None),
        ("batch", b2, ["B1"]),
        ("batch", b3, ["B1"]),
        ("batch", b4, ["B1", "B2", "B3"]),
    ])


def test_append_dedup_keyed_rereads_replaced_file(spark, tmp_path, monkeypatch):
    """A sink file replaced at the same path with other keys is judged by
    its new footer, so the batch colliding with its new keys finds it
    hot."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = "_id string, location_id long, timestamp string, v double"

    def swap(loc, ts):
        t = pa.table({"_id": ["s"], "location_id": pa.array([loc], pa.int64()),
                      "timestamp": [ts], "v": [0.0]})
        return lambda p: pq.write_table(t, p)

    name = "part-p-swap.parquet"
    _differential_appends(spark, tmp_path, monkeypatch, schema, ["location_id", "timestamp"], [
        ("batch", [("a1", 1, "t100", 1.0)], None),
        ("file", name, swap(50, "t500")),
        ("batch", [("b1", 60, "t600", 1.0)], []),
        ("batch", [("c1", 61, "t610", 1.0)], []),
        ("file", name, swap(70, "t700")),  # same path, other keys
        ("batch", [("d1", 70, "t700", 1.0), ("d2", 71, "t710", 1.0)], [name]),
    ])


def test_append_dedup_keyed_missing_order_col_raises(spark, tmp_path):
    """A batch without ``order_col`` raises on every path, also when its
    keys are distinct and new and its staged files would be renamed, and
    leaves the sink as it was."""
    import pytest
    from pyspark.errors import AnalysisException

    p = str(tmp_path / "silver")
    append_dedup_keyed(
        spark.createDataFrame([("a", 1, "t1", 1.0)], ["_id", "location_id", "timestamp", "v"]),
        p, keys=["location_id", "timestamp"],
    )
    before = sorted(os.listdir(p))
    no_id = spark.createDataFrame([(2, "t2", 2.0)], ["location_id", "timestamp", "v"])
    with pytest.raises(AnalysisException, match="_id"):
        append_dedup_keyed(no_id, p, keys=["location_id", "timestamp"])
    assert sorted(os.listdir(p)) == before


def test_append_dedup_keyed_failure_leaves_nothing_behind(spark, tmp_path, monkeypatch):
    """A keyed append that fails — on an unreadable sink file, or between
    the staged write and the commit — leaves no staging directory and no
    new visible data file."""
    import pytest
    from py4j.protocol import Py4JJavaError

    import etl_weather_jabar_spark.sinks as sinks

    keys = ["location_id", "timestamp"]
    cols = ["_id", "location_id", "timestamp", "v"]
    p = str(tmp_path / "silver")
    sinks.append_dedup_keyed(spark.createDataFrame([("a", 1, "t1", 1.0)], cols), p, keys=keys)

    def listing():  # visible files and staging directories
        return sorted(
            f for f in os.listdir(p)
            if f.startswith("_staging-") or not f.startswith(("_", "."))
        )

    new_key = spark.createDataFrame([("b", 2, "t2", 2.0)], cols)
    bad = os.path.join(p, "part-zzzzz.snappy.parquet")
    with open(bad, "wb") as f:
        f.write(b"PAR1 this is not parquet PAR1")
    before = listing()
    with pytest.raises(Py4JJavaError, match="part-zzzzz"):
        sinks.append_dedup_keyed(new_key, p, keys=keys)
    assert listing() == before
    os.remove(bad)

    def fail(*_a):
        raise RuntimeError("injected")

    monkeypatch.setattr(sinks, "_hot_files", fail)
    before = listing()
    with pytest.raises(RuntimeError, match="injected"):
        sinks.append_dedup_keyed(new_key, p, keys=keys)
    assert listing() == before
    assert spark.read.parquet(p).count() == 1


def test_append_dedup_keyed_replay_and_empty_batch_add_no_file(spark, tmp_path):
    """A replayed tick, whose every key is in the sink, and an empty batch
    add no file to the sink, not even an empty one, and the sink keeps
    the reference's rows."""
    import etl_weather_jabar_spark.sinks as sinks

    schema = "_id string, location_id long, timestamp string, v double"
    keys = ["location_id", "timestamp"]
    tick = spark.createDataFrame(
        [("a", 1, "t1", 1.0), ("b", 2, "t1", 2.0)], schema
    ).coalesce(1)
    empty = spark.createDataFrame([], schema)
    new, ref = str(tmp_path / "new"), str(tmp_path / "ref")
    sinks.append_dedup_keyed(tick, new, keys=keys)
    _reference_append_dedup_keyed(tick, ref, keys=keys)
    before = sorted(sinks._data_files(new))
    for batch in (tick, empty):
        sinks.append_dedup_keyed(batch, new, keys=keys)
        _reference_append_dedup_keyed(batch, ref, keys=keys)
        assert sorted(sinks._data_files(new)) == before

    def rows(p):
        return sorted(tuple(r) for r in spark.read.schema(schema).parquet(p).collect())

    assert rows(new) == rows(ref)


def test_append_dedup_keyed_first_write_and_whole_sink_add_no_empty_file(spark, tmp_path):
    """The paths that do not stage the batch as given — a first write,
    and a key type without footer stats (timestamp), which anti-joins the
    whole sink — commit no 0-row file: not for an empty first batch, nor
    for a replayed batch; and the sink keeps the reference's rows."""
    import datetime

    import pyarrow.parquet as pq

    import etl_weather_jabar_spark.sinks as sinks

    def rows_per_file(p):
        return sorted(pq.ParquetFile(f).metadata.num_rows for f in sinks._data_files(p))

    def rows(p, schema):
        return sorted(tuple(r) for r in spark.read.schema(schema).parquet(p).collect())

    for schema, keys, batches in [
        ("_id string, location_id long, timestamp string, v double",
         ["location_id", "timestamp"],
         [[], [("a", 1, "t1", 1.0)], [("b", 1, "t1", 2.0), ("c", 2, "t1", 3.0)]]),
        ("_id string, ts timestamp, v double",
         ["ts"],
         [[("a", datetime.datetime(2024, 1, 1), 1.0)]] * 2),
    ]:
        new, ref = str(tmp_path / f"new{len(keys)}"), str(tmp_path / f"ref{len(keys)}")
        for batch in batches:
            df = spark.createDataFrame(batch, schema).coalesce(1)
            sinks.append_dedup_keyed(df, new, keys=keys)
            _reference_append_dedup_keyed(df, ref, keys=keys)
            assert 0 not in rows_per_file(new)
            assert rows(new, schema) == rows(ref, schema)
        assert not [f for f in os.listdir(new) if f.startswith("_staging-")]
    assert rows_per_file(new) == [1]


def test_read_master_location(spark):
    """S3: multiline JSON dimension load with explicit schema
    (init_master_location.py:23-28)."""
    doc = [
        {
            "id": 3088089,
            "central_city": "Bandung",
            "city": "Kota Bandung",
            "region": "West Java",
            "country": "Indonesia",
            "lat": -6.92,
            "lon": 107.61,
            "url": "bandung",
            "source": {
                "general_info": "g", "location": "l", "central_city": "c",
                "lat": -6.9, "lon": 107.6,
            },
        }
    ]
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/master.json"
        with open(path, "w") as f:
            json.dump(doc, f)
        got = read_master_location(spark, path)
        rows = got.collect()
        assert len(rows) == 1
        assert rows[0]["id"] == 3088089
        assert rows[0]["source"]["lat"] == -6.9


def test_backfill_union_hourly_coarsening(spark):
    """ST3: history path keeps only :00 rows, drops future rows, anti-joins
    already-stored (loc, time) pairs, then unions with live."""
    live = bronze_fixture(spark).where("fetch_method = 'current'")
    hist_rows = [
        _raw_row("h1", "2024-02-01 08:00:00", 1, method="history"),
        _raw_row("h2", "2024-02-01 08:10:00", 1, method="history"),  # not :00
        _raw_row("h3", "2024-02-01 09:00:00", 1, method="history"),
        _raw_row("h4", "2024-02-01 23:00:00", 1, method="history"),  # future
    ]
    from etl_weather_jabar_spark.schemas import RAW_WEATHER

    history = spark.createDataFrame(hist_rows, RAW_WEATHER)
    existing = spark.createDataFrame(
        [_raw_row("e1", "2024-02-01 09:00:00", 1, method="history")], RAW_WEATHER
    )
    out = backfill_union(
        live, history, existing=existing, now="2024-02-01 12:00:00"
    )
    ids = {r["_id"] for r in out.collect()}
    assert "h1" in ids          # :00, past, not stored yet
    assert "h2" not in ids      # minute != 00 → coarsened away
    assert "h3" not in ids      # already stored (anti-join)
    assert "h4" not in ids      # future
    assert all(i in ids for i in ["b001", "b002", "b003", "b004", "b006"])


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key: the join plan must contain no
    Exchange (shuffle) — the on-disk hash layout is the partitioning."""
    from etl_weather_jabar_spark.sinks import write_bucketed
    from etl_weather_jabar_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    orders = load_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 4, sort_cols=["o_orderkey"])
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 4, sort_cols=["l_orderkey"])
    try:
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
            joined = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            # same answer as the shuffle join over the raw files
            assert joined.count() == li.join(
                orders, li.l_orderkey == orders.o_orderkey
            ).count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_csv_source_quarantines_corrupt_rows(spark, tmp_path):
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_weather_jabar_spark.sources.csvsrc import read_csv, split_quarantine

    p = tmp_path / "in.csv"
    p.write_text(
        "id,name,score\n"
        "1,alice,3.5\n"
        "2,bob,not_a_number\n"   # type error -> corrupt
        "3,carol,9.25\n"
    )
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    df = read_csv(spark, str(p), schema)
    clean, bad = split_quarantine(df)
    got = sorted((r["id"], r["name"], r["score"]) for r in clean.collect())
    assert got == [(1, "alice", 3.5), (3, "carol", 9.25)]
    assert "_corrupt_record" not in clean.columns
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and "not_a_number" in bad_rows[0]["_corrupt_record"]


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Date-partitioned layout (the engine's stand-in for the reference's
    (date, location) index): a date-filtered read must show PartitionFilters
    in the scan and touch only matching partition directories."""
    import os

    from pyspark.sql import functions as F

    from etl_weather_jabar_spark.sources.parquet import load_table

    sf = "/root/testdata/sf0.001"
    ev = (
        load_table(spark, sf, "events")
        .withColumn("date", F.date_format("ts", "yyyy-MM-dd"))
        .limit(2000)
    )
    out = str(tmp_path / "by_date")
    ev.write.partitionBy("date").parquet(out)
    dates = sorted(d for d in os.listdir(out) if d.startswith("date="))
    assert len(dates) > 1
    pick = dates[0].split("=", 1)[1]
    df = spark.read.parquet(out).where(F.col("date") == pick)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "date" in plan.split(
        "PartitionFilters:"
    )[1].split("]")[0]
    got = df.select(F.countDistinct("date")).collect()[0][0]
    assert got == 1


def test_orc_roundtrip_partition_pruning(spark, tmp_path):
    """The ORC read-back in orc_roundtrip_agg must partition-prune: with
    a priority predicate on a priority-partitioned ORC table, the scan
    lists only the selected directories (PartitionFilters in the plan,
    partition count matches), and values survive the hop exactly."""
    import re

    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, i * 100, pr) for i in range(20)
         for pr in ("1-URGENT", "2-HIGH", "5-LOW")],
        ["k", "units", "pr"],
    )
    out = str(tmp_path / "orc")
    df.write.mode("overwrite").partitionBy("pr").orc(out)
    back = spark.read.orc(out).where(F.col("pr").isin("1-URGENT", "2-HIGH"))
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[.*pr#\d+ IN", plan), plan
    got = {
        (r["pr"], r["n"], r["su"])
        for r in back.groupBy("pr")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("units").alias("su"))
        .collect()
    }
    assert got == {("1-URGENT", 20, 19000), ("2-HIGH", 20, 19000)}


def test_weather_landing_datasource_batch_and_stream(spark, tmp_path):
    """The custom Python DataSource (Spark 4 pyspark.sql.datasource)
    over the landing dir: batch read is row-identical to the built-in
    JSONL reader under the same explicit schema (one InputPartition per
    landed file), the stream reader's name-anchored offsets (last
    consumed filename) give exactly-once pickup across two availableNow
    runs sharing a checkpoint (a re-run with no new files appends
    nothing; a new file appends only its rows), and a missing path
    option raises."""
    import json
    import os

    import pytest

    from etl_weather_jabar_spark.schemas import RAW_WEATHER
    from etl_weather_jabar_spark.sources.weather_api_source import (
        WeatherLandingDataSource,
        WeatherLandingReader,
    )

    from .fixtures import bronze_fixture

    rows = [json.loads(r) for r in bronze_fixture(spark).toJSON().collect()]
    landing = str(tmp_path / "in")
    os.makedirs(landing)
    half = len(rows) // 2
    with open(f"{landing}/batch1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows[:half]))
    with open(f"{landing}/batch2.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows[half:]))

    spark.dataSource.register(WeatherLandingDataSource)
    df = spark.read.format("weatherlanding").option("path", landing).load()
    ref = spark.read.schema(RAW_WEATHER).json(landing)
    assert sorted(df.toJSON().collect()) == sorted(ref.toJSON().collect())

    with pytest.raises(ValueError):
        WeatherLandingReader({}, RAW_WEATHER)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("weatherlanding")
            .option("path", landing)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out).count()

    assert run_once() == len(rows)
    assert run_once() == len(rows)  # no new files → nothing re-ingested
    with open(f"{landing}/batch3.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows[:3]))
    assert run_once() == len(rows) + 3


def test_weather_landing_stream_offset_guards(tmp_path):
    """Name-anchored stream offsets (round-7 advisor, medium): a late
    upload sorting below the served horizon (the unpadded batch10 <
    batch2 case) and a vanished committed file both fail LOUDLY instead
    of silently shifting the committed range; legacy {"pos": N} count
    offsets from pre-change checkpoints are still understood. Driver-side
    unit test of the reader protocol — no Spark session needed."""
    import os

    import pytest

    from etl_weather_jabar_spark.schemas import RAW_WEATHER
    from etl_weather_jabar_spark.sources.weather_api_source import (
        WeatherLandingStreamReader,
    )

    landing = str(tmp_path)
    b2 = os.path.join(landing, "batch2.json")
    b3 = os.path.join(landing, "batch3.json")
    for p in (b2, b3):
        with open(p, "w") as f:
            f.write("")

    r = WeatherLandingStreamReader({"path": landing}, RAW_WEATHER)
    assert r.initialOffset() == {"last": ""}
    off = r.latestOffset()
    assert off == {"last": b3}
    assert [p.path for p in r.partitions({"last": ""}, off)] == [b2, b3]
    # a later batch advances the horizon; the range below it is unmoved
    b4 = os.path.join(landing, "batch4.json")
    with open(b4, "w") as f:
        f.write("")
    assert r.latestOffset() == {"last": b4}
    assert [p.path for p in r.partitions(off, {"last": b4})] == [b4]

    # the advisor's exact scenario: unpadded batch10.json sorts BELOW the
    # already-served batch2.json → the landing convention is broken and
    # the reader says so instead of skipping/re-ingesting
    b10 = os.path.join(landing, "batch10.json")
    with open(b10, "w") as f:
        f.write("")
    with pytest.raises(ValueError, match="late-arriving"):
        r.latestOffset()
    os.remove(b10)

    # a committed file vanishing mid-range or at the endpoint → loud
    os.remove(b3)
    with pytest.raises(ValueError, match="disappeared"):
        r.partitions({"last": b2}, {"last": b4})  # b3 gone mid-range
    fresh = WeatherLandingStreamReader({"path": landing}, RAW_WEATHER)
    with pytest.raises(ValueError, match="disappeared"):
        fresh.partitions({"last": b2}, {"last": b3})  # endpoint, post-restart

    # legacy count offsets: interpreted against the current listing
    assert [p.path for p in fresh.partitions({"pos": 0}, {"pos": 1})] == [b2]
    assert [p.path for p in fresh.partitions({"pos": 1}, {"pos": 2})] == [b4]
