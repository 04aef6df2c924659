"""Pipeline compositions: the three reference DAGs as DataFrame stages.

SURVEY §3: fetch → transform → recap. The fetch DAG's HTTP side stays
outside the engine (sources/jsonsrc.py reads its landing dir); what the
engine owns is everything after: dedup, incremental selection, flatten,
keyed writes, recap assembly. Airflow's cross-DAG sensors (ST5) become plain
function composition — downstream stages read upstream's committed output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.aggregates import daily_recap
from ..operators.dedup import dedupe_keep_first
from ..operators.filters import batch_key_filter
from ..operators.joins import anti_join_unprocessed
from ..operators.projections import flatten_raw


def transform_stage(
    raw: DataFrame,
    batch_end: str | None = None,
    processed: DataFrame | None = None,
) -> DataFrame:
    """The Silver transform DAG (dags/transform_raw_weather.py:104-124):

    1. dedup Bronze on (location.id, dag_times.end), keep-first by _id
       (A1-A3 — the reference runs this as a destructive maintenance pass;
       here it's just a transformation on the read path),
    2. incremental selection — EITHER the batch-key predicate (ST2) or an
       anti-join against already-processed ids (J2),
    3. flatten to the 17-column Silver row (P1, with P7 null-rejection).
    """
    deduped = dedupe_keep_first(
        raw, keys=["location.id", "dag_times.end"], order_by=["_id"]
    )
    if batch_end is not None:
        deduped = batch_key_filter(deduped, batch_end)
    if processed is not None:
        deduped = anti_join_unprocessed(deduped, processed, on="_id")
    return flatten_raw(deduped)


def backfill_union(
    live: DataFrame,
    history: DataFrame,
    existing: DataFrame | None = None,
    now: str | None = None,
) -> DataFrame:
    """ST3 late-data / catch-up path (fetch_weather.py:147-189):

    * history rows are coarsened to hourly granularity — the reference skips
      non-:00 catchup runs (fetch_weather.py:185-187): keep minute == '00';
    * no-future guard (ST7, :73-75);
    * rows whose (location.id, current.time) already landed are skipped
      (J3 anti-join, :76-77,100-106);
    * then unioned with the live path into one Bronze stream (:117,145).
    """
    hist = history.where(F.col("current.time").isNotNull())
    hist = hist.where(F.substring(F.col("current.time"), 15, 2) == "00")  # mm
    if now is not None:
        hist = hist.where(F.col("current.time") <= now)  # string order == time order
    if existing is not None:
        keys = hist.select(
            F.col("location.id").alias("__loc"), F.col("current.time").alias("__t")
        ).columns
        ex = existing.select(
            F.col("location.id").alias("__loc"), F.col("current.time").alias("__t")
        )
        hist = (
            hist.withColumn("__loc", F.col("location.id"))
            .withColumn("__t", F.col("current.time"))
            .join(ex, on=keys, how="left_anti")
            .drop("__loc", "__t")
        )
    return live.unionByName(hist)


def recap_stage(silver: DataFrame, dates: list[str] | None = None) -> DataFrame:
    """The Gold recap DAG (dags/daily_compile_weather.py:96-142) as ONE
    distributed plan — replaces the reference's per-(date,location) query
    loop (SURVEY §4.2). Optional ``dates`` narrows to specific days
    (partition-prunable when Silver is partitioned by date)."""
    if dates:
        silver = silver.where(F.col("date").isin(dates))
    return daily_recap(silver)


def recap_to_snapshot(
    silver_all: DataFrame,
    silver_new: DataFrame,
    gold_table: str,
    keys: list[str] = ("date", "location_id"),
) -> int:
    """The Gold upsert (reference daily_compile_weather.py:136-142 —
    find-by-(date,location) then $set-or-insert) onto the TRANSACTIONAL
    table. The new Silver rows name the work (the reference gets it from
    Airflow's sensor schedule, daily_compile_weather.py:153-155): their
    distinct dates are collected, and a literal ``date IN (...)`` filter
    prunes the full Silver (statically on date-partitioned Silver, by
    parquet pushdown on flat Silver). One recap plan rebuilds only those
    days, one doc per (date, location_id), and the docs MERGE into the
    snapshot table keyed by (date, location_id) as an upsert set
    (``snapshot_merge(op_col=None)``): the recap is written once, as it
    is, and its keys are read back from the written files. The merge
    prunes on ``date``, so only Gold files holding a recapped day are
    rewritten; every other day's files carry forward by name. A day new
    to Gold runs 4 Spark jobs: two for the dates collect, the recap's
    groupBy map stage, and the write, whose files become the new
    version's. A replayed day also reads and rewrites its hot files
    through the keep-last window. One atomic version per run,
    replay-idempotent (same input → same resulting table state),
    pre-merge versions time-travelable. Returns the new version number.
    """
    from ..snapshots import snapshot_merge

    dates = [r[0] for r in silver_new.select("date").distinct().collect()]
    recap = daily_recap(silver_all.where(F.col("date").isin(dates)))
    return snapshot_merge(
        silver_all.sparkSession, gold_table, recap, list(keys), op_col=None
    )
