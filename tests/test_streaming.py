"""Structured Streaming micro-batch variant (streaming/micro_batch.py):
landing-dir → watermarked dedup silver → tumbling windowed agg (ST1-ST7)."""

from __future__ import annotations

import json
import tempfile

from etl_weather_jabar_spark.streaming.micro_batch import (
    stream_silver,
    stream_windowed_agg,
)

from .fixtures import bronze_fixture


def _land_jsonl(spark, path: str) -> None:
    rows = [json.loads(r) for r in bronze_fixture(spark).toJSON().collect()]
    # one duplicate landing twice (same location_id + timestamp) on top of
    # the batch-level duplicates already in the fixture
    rows.append(rows[0])
    with open(f"{path}/batch1.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))


def test_stream_silver_dedups_within_watermark(spark):
    with tempfile.TemporaryDirectory() as d:
        landing, out, ckpt = f"{d}/in", f"{d}/out", f"{d}/ckpt"
        import os

        os.makedirs(landing)
        _land_jsonl(spark, landing)
        silver = stream_silver(spark, landing)
        q = (
            silver.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        rows = got.collect()
        keys = [(r["location_id"], r["timestamp"]) for r in rows]
        assert len(keys) == len(set(keys)), "dedup within watermark failed"
        # null-location row rejected, duplicates collapsed
        assert got.where("location_id IS NULL").count() == 0


def test_stream_windowed_agg_shape(spark):
    with tempfile.TemporaryDirectory() as d:
        landing, ckpt = f"{d}/in", f"{d}/ckpt"
        import os

        os.makedirs(landing)
        _land_jsonl(spark, landing)
        agg = stream_windowed_agg(stream_silver(spark, landing))
        q = (
            agg.writeStream.format("memory")
            .queryName("agg_test")
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("select * from agg_test").collect()
        assert len(out) > 0
        cols = set(out[0].asDict())
        assert {"window", "location_id", "temp_avg", "n_obs"} <= cols


def _run_upsert_stream(spark, src, ckpt, out, **options):
    """Drive ``write_upsert_foreach_batch`` over the CSV files in ``src``
    with ``availableNow``; the sink's rows, read back with
    ``snapshot_read``, by (location_id, window start)."""
    from etl_weather_jabar_spark.snapshots import snapshot_read
    from etl_weather_jabar_spark.streaming.micro_batch import (
        write_upsert_foreach_batch,
    )

    stream = (
        spark.readStream.schema(
            "event_ts TIMESTAMP, location_id LONG, temp_c DOUBLE, precip_mm DOUBLE"
        )
        .options(**options)
        .csv(str(src))
    )
    agg = stream_windowed_agg(stream, window="10 minutes", watermark="1 hour")
    q = (
        write_upsert_foreach_batch(agg, out, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return {
        (r["location_id"], str(r["window"]["start"])): (r["temp_avg"], r["n_obs"])
        for r in snapshot_read(spark, out).collect()
    }


def _write_obs(path, rows):
    import pandas as pd

    pd.DataFrame(
        rows, columns=["event_ts", "location_id", "temp_c", "precip_mm"]
    ).to_csv(path, index=False, header=False)


def test_foreach_batch_upsert_is_idempotent(spark, tmp_path):
    """ST4/S6 end-to-end: the streaming foreachBatch keyed-merge sink
    lands the same rows when the whole stream replays from scratch."""
    src = tmp_path / "landing"
    src.mkdir()
    _write_obs(src / "obs.csv", [
        ("2024-04-01 08:01:00", 1, 30.0, 0.0),
        ("2024-04-01 08:04:00", 1, 32.0, 1.5),
        ("2024-04-01 08:14:00", 1, 31.0, 0.0),
    ])

    first = _run_upsert_stream(spark, src, str(tmp_path / "ck1"), str(tmp_path / "out1"))
    replay = _run_upsert_stream(spark, src, str(tmp_path / "ck2"), str(tmp_path / "out2"))
    assert first == replay and len(first) == 2
    assert any(n == 2 for (_, n) in first.values())  # 08:00 window has 2 obs


def test_foreach_batch_upsert_keeps_untouched_windows(spark, tmp_path):
    """A later micro-batch that emits another window of a date leaves the
    date's earlier windows in the sink: update mode emits only the changed
    window, and the sink merges it by key instead of replacing the date.
    A full replay from a fresh checkpoint lands the same table."""
    import os

    src = tmp_path / "landing"
    src.mkdir()
    _write_obs(src / "a.csv", [
        ("2024-04-01 08:01:00", 1, 30.0, 0.0),
        ("2024-04-01 08:04:00", 1, 32.0, 1.5),
    ])
    _write_obs(src / "b.csv", [("2024-04-01 08:24:00", 1, 31.0, 0.0)])
    os.utime(src / "a.csv", (1_000_000_000, 1_000_000_000))  # a.csv first

    def run(n):
        return _run_upsert_stream(
            spark, src, str(tmp_path / f"ck{n}"), str(tmp_path / f"out{n}"),
            maxFilesPerTrigger=1,
        )

    first = run(1)
    # the 08:00 window (2 obs), then the 08:20 one
    assert [n for _, (_, n) in sorted(first.items())] == [2, 1]
    assert run(2) == first  # a full replay from a fresh checkpoint


def test_drop_duplicates_within_watermark_api(spark):
    """dropDuplicatesWithinWatermark (Spark >=3.5): unlike dropDuplicates,
    state for a key is evicted once the watermark passes its event time,
    so unbounded streams don't accumulate unbounded dedup state. Within
    one availableNow batch the duplicates all fall inside the watermark
    and must collapse."""
    import os

    with tempfile.TemporaryDirectory() as d:
        landing, ckpt = f"{d}/in", f"{d}/ckpt"
        os.makedirs(landing)
        rows = [
            {"k": 1, "ts": "2024-01-01 10:00:00"},
            {"k": 1, "ts": "2024-01-01 10:03:00"},  # dup inside watermark
            {"k": 2, "ts": "2024-01-01 10:01:00"},
        ]
        with open(f"{landing}/b.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        stream = (
            spark.readStream.schema("k INT, ts STRING")
            .json(landing)
            .selectExpr("k", "CAST(ts AS TIMESTAMP) AS ts")
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["k"])
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("ddww_test")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(r["k"] for r in spark.sql("SELECT k FROM ddww_test").collect())
        assert got == [1, 2]


def test_native_session_window_streaming(spark):
    """F.session_window in a STREAMING aggregation (the batch twin is
    pinned by the session_window_native oracle query): sessions close when
    the watermark passes gap-end; within one availableNow batch both
    sessions of user 1 must merge/split correctly."""
    import os

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        landing, ckpt = f"{d}/in", f"{d}/ckpt"
        os.makedirs(landing)
        rows = [
            {"u": 1, "ts": "2024-01-01 10:00:00"},
            {"u": 1, "ts": "2024-01-01 10:10:00"},  # same session (gap 30m)
            {"u": 1, "ts": "2024-01-01 12:00:00"},  # new session
            {"u": 2, "ts": "2024-01-01 10:05:00"},
        ]
        with open(f"{landing}/b.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        agg = (
            spark.readStream.schema("u INT, ts STRING")
            .json(landing)
            .selectExpr("u", "CAST(ts AS TIMESTAMP) AS ts")
            .withWatermark("ts", "1 hour")
            .groupBy("u", F.session_window("ts", "30 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.format("memory")
            .queryName("ssw_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            (r["u"], r["n"])
            for r in spark.sql("SELECT u, n FROM ssw_test").collect()
        }
        # appended rows are the sessions the watermark has CLOSED: user 1's
        # first (2 events) and user 2's (1 event); the 12:00 session is
        # still open at end-of-input watermark and stays in state
        assert (1, 2) in got and (2, 1) in got


def test_checkpoint_restart_resumes_exactly_once(spark):
    """Stop a streaming aggregation, land more data, restart from the SAME
    checkpoint: the sink must reflect all data exactly once — offsets and
    state come back from the checkpoint, not from reprocessing."""
    import os

    from pyspark.sql import functions as F

    with tempfile.TemporaryDirectory() as d:
        landing, ckpt = f"{d}/in", f"{d}/ckpt"
        os.makedirs(landing)

        def land(name, rows):
            with open(f"{landing}/{name}.json", "w") as f:
                f.write("\n".join(json.dumps(r) for r in rows))

        mem_name = "restart_test"

        def run_mem():
            counts = (
                spark.readStream.schema("k INT, ts STRING")
                .json(landing)
                .groupBy("k")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            q = (
                counts.writeStream.format("memory")
                .queryName(mem_name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        land("b1", [{"k": 1, "ts": "a"}, {"k": 1, "ts": "b"}, {"k": 2, "ts": "c"}])
        run_mem()
        first = {
            (r["k"], r["n"])
            for r in spark.sql(f"SELECT * FROM {mem_name}").collect()
        }
        assert first == {(1, 2), (2, 1)}
        # second run from the same checkpoint sees ONLY the new file, but
        # complete-mode state restores prior counts: totals, not deltas
        land("b2", [{"k": 1, "ts": "d"}, {"k": 3, "ts": "e"}])
        run_mem()
        second = {
            (r["k"], r["n"])
            for r in spark.sql(f"SELECT * FROM {mem_name}").collect()
        }
        assert second == {(1, 3), (2, 1), (3, 1)}


def test_foreach_batch_cdc_apply_materializes_snapshot(spark, tmp_path):
    """Streaming MERGE: a change-log stream folded into a keyed parquet
    snapshot with operators.diff.apply_cdc inside foreachBatch — the
    Spark-native form of the reference's keyed upsert sink, with delete
    support. Two batches replayed in order must yield the same final
    snapshot as a sequential replay of the log."""
    import os

    from pyspark.sql import functions as F

    from etl_weather_jabar_spark.operators.diff import apply_cdc

    landing = str(tmp_path / "in")
    snap = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "k INT, v STRING, seq INT, op STRING"

    spark.createDataFrame(
        [(1, "a"), (2, "b")], ["k", "v"]
    ).write.parquet(snap)

    def fold(batch, _bid):
        if batch.isEmpty():
            return
        base = batch.sparkSession.read.parquet(snap)
        out = apply_cdc(base, batch, ["k"]).select("k", "v")
        out.localCheckpoint().write.mode("overwrite").parquet(snap)

    def run():
        q = (
            spark.readStream.schema(schema)
            .json(landing)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # two availableNow runs against one checkpoint: batch order is
    # deterministic (the second run reads only the newly landed file),
    # unlike relying on file-listing order within a single run
    with open(f"{landing}/b1.json", "w") as f:
        f.write(
            json.dumps({"k": 2, "v": "b2", "seq": 1, "op": "U"})
            + "\n"
            + json.dumps({"k": 3, "v": "c", "seq": 1, "op": "U"})
        )
    run()
    with open(f"{landing}/b2.json", "w") as f:
        f.write(
            json.dumps({"k": 1, "v": None, "seq": 2, "op": "D"})
            + "\n"
            + json.dumps({"k": 3, "v": "c2", "seq": 2, "op": "U"})
        )
    run()
    got = {
        r["k"]: r["v"] for r in spark.read.parquet(snap).collect()
    }
    assert got == {2: "b2", 3: "c2"}  # 1 deleted, 2 updated, 3 upserted twice


def test_stream_batch_parity_tumbling_counts(spark, tmp_path):
    """Stream-batch parity: the SAME tumbling-window aggregation over the
    SAME files must give identical results through the batch reader and
    through an availableNow stream in complete mode — the unified-engine
    guarantee that makes the micro-batch pipelines trustworthy."""
    import os

    from pyspark.sql import functions as F

    from etl_weather_jabar_spark.sources.parquet import load_table

    landing = str(tmp_path / "in")
    os.makedirs(landing)
    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        F.col("event_id"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
    )
    rows = [json.loads(r) for r in ev.toJSON().collect()]
    # two landing files -> two micro-batches in one availableNow run
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        with open(f"{landing}/b{i}.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in chunk))

    schema = "event_id BIGINT, ts_s STRING, event_type STRING"

    def agg(df):
        return df.select(
            F.to_timestamp("ts_s").alias("ts"), "event_type"
        ).groupBy(
            F.window("ts", "10 minutes").alias("w"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n"))

    batch = {
        (str(r["w"]["start"]), r["event_type"]): r["n"]
        for r in agg(spark.read.schema(schema).json(landing)).collect()
    }

    q = (
        agg(spark.readStream.schema(schema).json(landing))
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("parity_counts")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = {
        (str(r["w"]["start"]), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM parity_counts").collect()
    }
    assert stream == batch and len(batch) > 10


def test_stream_incremental_lsh_dedup_exactly_once(spark, tmp_path):
    """Structured Streaming ingest deduped by the persisted LSH index:
    each micro-batch runs incremental_lsh_neardup inside foreachBatch
    with an idempotent (keyed-overwrite) survivor sink. Restarting from
    the same checkpoint after new data lands processes ONLY the new
    file; a clone of already-indexed content is dropped cross-batch
    and the survivor table never double-counts."""
    import hashlib
    import json
    import os

    from etl_weather_jabar_spark.ext.dedup_text import (
        incremental_lsh_neardup,
    )

    def words(seed, n=40):
        return " ".join(
            hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:5]
            for i in range(n)
        )

    landing = str(tmp_path / "in")
    idx = str(tmp_path / "lsh_idx")
    surv = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "doc_id LONG, text STRING"

    def fold(batch, _bid):
        if batch.isEmpty():
            return
        # idempotent sink: one partition dir per doc_id, overwritten on
        # replay — the contract incremental_lsh_neardup documents
        def sink(df):
            df.localCheckpoint().write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("doc_id").parquet(surv)

        incremental_lsh_neardup(batch, idx, threshold=0.7, sink=sink)

    def run():
        q = (
            spark.readStream.schema(schema)
            .json(landing)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    with open(f"{landing}/b1.json", "w") as f:
        for d, s in [(1, "x"), (2, "x"), (3, "c")]:
            f.write(json.dumps({"doc_id": d, "text": words(s)}) + "\n")
    run()
    got1 = sorted(
        r["doc_id"] for r in spark.read.parquet(surv).collect()
    )
    assert got1 == [1, 3]  # in-batch clone 2 dropped

    with open(f"{landing}/b2.json", "w") as f:
        for d, s in [(10, "x"), (11, "e")]:
            f.write(json.dumps({"doc_id": d, "text": words(s)}) + "\n")
    run()  # restart from the same checkpoint: only b2 is processed
    got2 = sorted(
        r["doc_id"] for r in spark.read.parquet(surv).collect()
    )
    assert got2 == [1, 3, 11]  # 10 dropped against the persisted index


def test_stream_incremental_exact_substring_dedup(spark, tmp_path):
    """Structured Streaming ingest span-deduped by the persisted k-gram
    index: each micro-batch runs incremental_exact_substring_dedup
    inside foreachBatch with an idempotent per-doc sink. A later
    batch's document repeating an INDEXED span arrives with the span
    removed (corpus canonical wins); checkpoint restart processes only
    the new file; a full replay of a committed batch writes
    byte-identical rollups (replayed occurrences ARE the indexed
    canonicals)."""
    import json
    import os

    from etl_weather_jabar_spark.ext.dedup_text import (
        incremental_exact_substring_dedup,
    )

    landing = str(tmp_path / "in")
    idx = str(tmp_path / "ss_idx")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    schema = "doc_id LONG, text STRING"
    span = " ".join(f"s{i}" for i in range(10))

    def fold(batch, _bid):
        if batch.isEmpty():
            return

        def sink(df):
            df.localCheckpoint().write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("doc_id").parquet(out)

        incremental_exact_substring_dedup(batch, idx, k=8, sink=sink)

    def run():
        q = (
            spark.readStream.schema(schema)
            .json(landing)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    fresh = " ".join(f"a{i}" for i in range(12))
    with open(f"{landing}/b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": span + " " + fresh}) + "\n")
    run()
    r1 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r1[1]["n_removed"] == 0  # first occurrence is canonical

    with open(f"{landing}/b2.json", "w") as f:
        f.write(
            json.dumps({"doc_id": 2, "text": span + " tail0 tail1"}) + "\n"
        )
    run()  # checkpoint restart: only b2 is processed
    r2 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r2[1]["n_removed"] == 0  # untouched from batch 1
    assert r2[2]["n_removed"] == 10  # indexed span stripped cross-batch

    # full replay from a fresh checkpoint: decisions are byte-identical
    ckpt2 = str(tmp_path / "ckpt2")
    q = (
        spark.readStream.schema(schema)
        .json(landing)
        .writeStream.foreachBatch(fold)
        .option("checkpointLocation", ckpt2)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    r3 = {r["doc_id"]: tuple(r) for r in spark.read.parquet(out).collect()}
    assert r3 == {k: tuple(v) for k, v in r2.items()}


def test_dedup_state_bounded_by_watermark_and_inspectable(spark):
    """The dedup operator's checkpointed state read back through the
    Spark 4 state data source (micro_batch.read_dedup_state): every
    held key is a key the stream actually emitted, and after a later
    batch advances the watermark, keys older than (max event time −
    watermark delay) are EVICTED — state stays bounded, the ST4 claim
    made verifiable instead of asserted."""
    import os
    import tempfile
    from datetime import datetime, timedelta

    from etl_weather_jabar_spark.streaming.micro_batch import (
        read_dedup_state,
        stream_silver,
    )

    with tempfile.TemporaryDirectory() as d:
        landing, out, ckpt = f"{d}/in", f"{d}/out", f"{d}/ckpt"
        os.makedirs(landing)
        _land_jsonl(spark, landing)

        def run():
            q = (
                stream_silver(spark, landing)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run()
        silver_keys = {
            (r["location_id"], r["timestamp"])
            for r in spark.read.parquet(out).collect()
        }
        state1 = {
            (r["location_id"], r["timestamp"])
            for r in read_dedup_state(spark, ckpt).collect()
        }
        assert state1, "dedup state empty after first batch"
        assert state1 <= silver_keys

        # second batch: same shape shifted +3 h → watermark advances
        import json

        rows = [
            json.loads(r)
            for r in __import__(
                "tests.fixtures", fromlist=["bronze_fixture"]
            ).bronze_fixture(spark).toJSON().collect()
        ]

        def shift(ts: str) -> str:
            dt = datetime.strptime(ts, "%Y-%m-%d %H:%M:%S")
            return (dt + timedelta(hours=3)).strftime("%Y-%m-%d %H:%M:%S")

        for r in rows:
            # event time derives from created_at / dag_times (F8 pick);
            # shift every timestamp the picker can see
            r["created_at"] = shift(r["created_at"])
            for k in list(r.get("dag_times") or {}):
                r["dag_times"][k] = shift(r["dag_times"][k])
        with open(f"{landing}/batch2.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        run()

        # eviction uses the watermark as of the END of the PREVIOUS
        # batch, so assert against the lagged horizon: run a third
        # batch (shifted +6 h) and require no key older than
        # (max event time AFTER the second batch) - delay
        max_ts2 = max(
            r["timestamp"] for r in spark.read.parquet(out).collect()
        )
        for r in rows:
            r["created_at"] = shift(r["created_at"])
            for k in list(r.get("dag_times") or {}):
                r["dag_times"][k] = shift(r["dag_times"][k])
        with open(f"{landing}/batch3.json", "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))
        run()

        state3 = [
            (r["location_id"], r["timestamp"])
            for r in read_dedup_state(spark, ckpt).collect()
        ]
        horizon = (
            datetime.strptime(max_ts2, "%Y-%m-%d %H:%M:%S")
            - timedelta(hours=1)
        ).strftime("%Y-%m-%d %H:%M:%S")
        assert state3, "state empty after third batch"
        for _, ts in state3:
            assert ts >= horizon, (
                f"state key {ts} older than watermark horizon {horizon}"
            )
        # and the first batch's keys are genuinely gone
        assert not (state1 & set(state3))


def test_stream_state_report_certifies_bounded_state(spark):
    """The registered monitoring query (round-7 verdict item 7): the
    one-row report must certify BOUNDED dedup state — every retained
    key at/after the terminal watermark horizon (eviction_ok=1, lag
    non-negative and under the 1h delay + state granularity), with
    strictly fewer state rows than input rows (eviction actually
    removed the old batches) and exactly-once output."""
    from etl_weather_jabar_spark.queries import QUERIES

    r = QUERIES["stream_state_report"](spark, "/root/testdata/sf0.001")
    row = r.collect()[0]
    assert row["n_batches"] == 3
    assert row["n_input_rows"] == row["n_output_rows"] > 0
    assert 0 < row["n_state_rows"] < row["n_input_rows"]
    assert row["eviction_ok"] == 1
    assert row["min_state_ts"] >= row["watermark_horizon"]
    # oldest retained key sits within the watermark delay of the horizon
    assert 0 <= row["oldest_lag_us"] <= 3_600_000_000 + 1
