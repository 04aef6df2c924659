"""Structured Streaming variant of the micro-batch pipeline (SURVEY §2.8).

The reference fakes streaming with Airflow cron every 10 minutes
(dags/fetch_weather.py:205) plus hand-rolled late-data handling
(is_catchup_run, :147-172). Native mapping:

* ST1 tumbling 10-min ingestion  → ``trigger(processingTime=...)`` +
  ``F.window(ts, "10 minutes")``
* ST2 only-this-batch            → automatic (incremental source offsets)
* ST3 late data / backfill       → ``withWatermark`` (no separate history
  code path — late rows just join their event-time window)
* ST4 exactly-once / idempotent  → ``dropDuplicates`` within the watermark +
  a foreachBatch sink that MERGEs each batch by key
  (``snapshots.snapshot_merge``)
* ST7 no-future guard            → filter ts <= current_timestamp
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.projections import flatten_raw
from ..schemas import RAW_WEATHER


def stream_silver(
    spark: SparkSession,
    landing_dir: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """readStream over the JSON landing dir → deduped flat Silver rows.

    Dedup state is bounded by (unique keys per watermark window) — 27
    locations × 6 ticks/hour in the reference's shape, trivially small even
    at 1000× fan-out.

    The event-time column ``event_ts`` MUST be part of the dedup subset:
    streaming ``dropDuplicates`` only evicts state for keys the watermark
    has passed when the subset contains the watermark column — with the
    string ``timestamp`` alone the state store grows FOREVER (found by
    reading the checkpoint back through the state data source; pinned in
    tests/test_streaming.py::test_dedup_state_bounded...). Including
    ``event_ts`` changes nothing semantically (it is ``to_timestamp`` of
    the string key, functionally determined), but turns eviction on.

    MIGRATION (round-7 advisor): adding ``event_ts`` to the subset
    changed the streaming dedup operator's STATE KEY SCHEMA, so a
    deployment restarting from a checkpoint written before this change
    fails with a state-schema mismatch. Reset the checkpoint (and
    backfill the output from the landing dir with the batch twin
    ``silver_flatten`` + keyed-dedup sink) — the old state cannot be
    migrated in place.
    """
    raw = (
        spark.readStream.schema(RAW_WEATHER)
        .option("multiLine", "true")
        .json(landing_dir)
    )
    silver = flatten_raw(raw)
    return (
        silver.withColumn("event_ts", F.to_timestamp("timestamp"))
        .withWatermark("event_ts", watermark)
        .dropDuplicates(["location_id", "timestamp", "event_ts"])
    )


def stream_windowed_agg(
    silver: DataFrame,
    window: str = "10 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """ST1/ST6: tumbling event-time windowed aggregates — the streaming form
    of the hourly recap. ``stream_silver`` output already carries a watermark
    (re-defining one is disallowed upstream of a stateful operator); pass
    ``watermark`` only when feeding a raw un-watermarked stream."""
    if watermark is not None:
        silver = silver.withWatermark("event_ts", watermark)
    return (
        silver.groupBy(F.window("event_ts", window), F.col("location_id"))
        .agg(
            F.round(F.avg("temp_c"), 2).alias("temp_avg"),
            F.min("temp_c").alias("temp_min"),
            F.max("temp_c").alias("temp_max"),
            F.coalesce(F.sum("precip_mm"), F.lit(0.0)).alias("precip_mm"),
            F.count(F.lit(1)).alias("n_obs"),
        )
    )


def write_upsert_foreach_batch(
    agg: DataFrame, path: str, checkpoint: str
):
    """ST4/S6: idempotent keyed sink — each micro-batch is one
    :func:`~etl_weather_jabar_spark.snapshots.snapshot_merge` into the
    snapshot table at ``path`` (read it with ``snapshot_read``), keyed by
    (``date``, ``location_id``, window start). Update mode emits only the
    windows a batch changed; the merge replaces exactly those rows, so
    the day's other windows survive. A replayed batch re-merges the same
    rows."""
    from ..snapshots import snapshot_merge

    def upsert(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        changes = (
            batch.withColumn("date", F.date_format("window.start", "yyyy-MM-dd"))
            # base rows sit at seq 0, so a batch's changes start at 1
            .withColumn("seq", F.lit(batch_id + 1))
            .withColumn("op", F.lit("U"))
        )
        snapshot_merge(
            batch.sparkSession, path, changes, ["date", "location_id", "window.start"]
        )

    return (
        agg.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(upsert)
    )


def read_dedup_state(spark: SparkSession, checkpoint: str) -> DataFrame:
    """Operational state inspection (Spark 4 state data source): the
    dedup operator's live keys straight from the checkpoint —
    ``(location_id, timestamp, partition_id)``, one row per key still
    held. The check an on-call engineer actually runs when a streaming
    job's state store grows: is eviction keeping state bounded by the
    watermark, and what keys are pinned? The reference has no streaming
    state at all (cron + Mongo upserts); this is the native-mapping
    bonus — bounded, INSPECTABLE state. Read-only: the checkpoint is
    never modified, so it is safe against a live query."""
    st = spark.read.format("statestore").load(checkpoint)
    return st.select(
        F.col("key.location_id").alias("location_id"),
        F.col("key.timestamp").alias("timestamp"),
        F.col("partition_id"),
    )
